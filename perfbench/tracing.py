"""Traced-run plumbing: spans around calls into the engine's modules, Spark
event-log analysis, and process-tree resource use.

Spans live in memory and are analysed when the run ends. Each span sets
the Spark local property ``perfbench.span`` on its thread, so a job
submitted from that thread names its span. A job submitted from a thread
that carries no span (an engine-side thread pool, for one) is given to the
innermost span open at its submission time.

The event log must be uncompressed and non-rolling; see
:func:`event_log_conf`.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"


def event_log_conf(directory: str) -> dict[str, str]:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + directory,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false"}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes :meth:`span` a
    plain timer-free context, so the untraced run pays nothing."""

    def __init__(self, sc=None, enabled: bool = False) -> None:
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, stack[-1].sid if stack else None,
                     time.time(), attrs=attrs)
            self.spans.append(s)
        stack.append(s)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(s.sid))
        try:
            yield s
        finally:
            s.t1 = time.time()
            if name == "op":
                s.attrs["persisted_rdds"] = \
                    self.sc._jsc.getPersistentRDDs().size()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROPERTY,
                                     str(stack[-1].sid) if stack else None)

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        traced.__wrapped__ = fn
        return traced

    def patch_function(self, module, attr: str, name: str,
                       package: str = "alma_publish_to_marc_spark") -> None:
        """Wrap ``module.attr`` in a span, in every loaded module of the
        package that bound it (``from x import f`` copies the binding)."""
        original = getattr(module, attr)
        traced = self.wrap(original, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for k, v in list(vars(mod).items()):
                if v is original:
                    self._patches.append((mod, k, original))
                    setattr(mod, k, traced)

    def patch_method(self, cls, attr: str, name: str) -> None:
        original = getattr(cls, attr)
        self._patches.append((cls, attr, original))
        setattr(cls, attr, self.wrap(original, name))

    def unpatch(self) -> None:
        while self._patches:
            obj, k, original = self._patches.pop()
            setattr(obj, k, original)


# --- event log ---------------------------------------------------------------
_PY_TIME = "time to run Python workers"


@dataclass
class Job:
    jid: int
    sub: float
    end: float = 0.0
    span: int | None = None
    stages: int = 0
    tasks: int = 0
    m: dict = field(default_factory=lambda: defaultdict(float))


def _scan_class(node: dict) -> str | None:
    """Publish-file scans: the publish parse reads files without
    ``delete`` in the path, the delete-manifest parse the others."""
    if not node["nodeName"].startswith("Scan binaryFile"):
        return None
    simple = node.get("simpleString", "")
    if "NOT Contains(path" in simple:
        return "publish_parse"
    if "Contains(path" in simple:
        return "delete_parse"
    return None


def _plan_nodes(node):
    yield node
    for c in node.get("children", ()):
        yield from _plan_nodes(c)


def read_event_log(directory: str) -> dict[int, Job]:
    """Jobs with their task metrics summed over the stages they ran.

    ``m`` keys: run_s, cpu_s, gc_s, shuffle_read_bytes,
    shuffle_write_bytes, spill_bytes, input_bytes, output_bytes,
    records_written, python_s (time to run Python workers), and per stage
    class — ``publish_parse`` (stages scanning publish files, where the
    parse UDF runs), ``delete_parse``, ``other`` — ``passes.<class>``
    (stages run) and ``python_s.<class>``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    job_of_listed: dict[int, int] = {}
    scan_ids: dict[int, str] = {}        # accumulator → stage class
    py_ids: dict[int, float] = {}        # accumulator → seconds per unit
    stage_class: dict[int, str] = {}
    stage_py: dict[int, float] = defaultdict(float)

    def py_metric(mt: dict) -> None:
        if mt["name"] == _PY_TIME:
            py_ids[mt["accumulatorId"]] = (
                1e-9 if mt.get("metricType") == "nsTiming" else 1e-3)

    for path in glob.glob(os.path.join(directory, "*")):
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind.endswith(("SQLExecutionStart",
                                  "SQLAdaptiveExecutionUpdate")):
                    for n in _plan_nodes(e["sparkPlanInfo"]):
                        cls = _scan_class(n)
                        for mt in n.get("metrics", ()):
                            py_metric(mt)
                            if cls:
                                scan_ids[mt["accumulatorId"]] = cls
                elif kind.endswith("SQLAdaptiveSQLMetricUpdates"):
                    for mt in e.get("sqlPlanMetrics", ()):
                        py_metric(mt)
                elif kind == "SparkListenerJobStart":
                    j = Job(e["Job ID"], e["Submission Time"] / 1000)
                    sp = (e.get("Properties") or {}).get(SPAN_PROPERTY)
                    j.span = int(sp) if sp not in (None, "") else None
                    jobs[j.jid] = j
                    for s in e["Stage IDs"]:
                        job_of_listed[s] = j.jid
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end = e["Completion Time"] / 1000
                elif kind == "SparkListenerStageSubmitted":
                    sid = e["Stage Info"]["Stage ID"]
                    stage_job[sid] = job_of_listed.get(sid, -1)
                    if stage_job[sid] in jobs:
                        jobs[stage_job[sid]].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    j = jobs.get(stage_job.get(sid, -1))
                    if j is None:
                        continue
                    j.tasks += 1
                    tm = e.get("Task Metrics") or {}
                    m = j.m
                    m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    m["input_bytes"] += (tm.get("Input Metrics") or {}).get(
                        "Bytes Read", 0)
                    om = tm.get("Output Metrics") or {}
                    m["output_bytes"] += om.get("Bytes Written", 0)
                    m["records_written"] += om.get("Records Written", 0)
                    for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                        aid = a.get("ID")
                        if aid in py_ids:
                            v = float(a.get("Update") or 0) * py_ids[aid]
                            m["python_s"] += v
                            stage_py[sid] += v
                        if aid in scan_ids:
                            stage_class[sid] = scan_ids[aid]
    for sid, jid in stage_job.items():
        j = jobs.get(jid)
        if j is None:
            continue
        cls = stage_class.get(sid, "other")
        j.m["passes." + cls] += 1
        j.m["python_s." + cls] += stage_py.get(sid, 0.0)
    return jobs


def attribute_jobs(tracer: Tracer, jobs: dict[int, Job]) -> None:
    """Give every job without a span property the innermost span open at
    its submission time."""
    spans = sorted(tracer.spans, key=lambda s: s.t0)
    for j in jobs.values():
        if j.span is not None:
            continue
        best = None
        for s in spans:
            if s.t0 > j.sub:
                break
            if s.t1 >= j.sub and (best is None or s.t0 >= best.t0):
                best = s
        j.span = best.sid if best else None


def busy_seconds(jobs: list[Job], t0: float, t1: float) -> float:
    """Length of the union of job intervals, clipped to [t0, t1]."""
    iv = sorted((max(j.sub, t0), min(j.end or t1, t1)) for j in jobs)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- process tree -------------------------------------------------------------
_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_seconds() -> float:
    """utime+stime of every live process in this tree plus what each has
    reaped from its children, so exited Python workers are counted once."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / _CLK


def tree_rss_mb() -> float:
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


class RssSampler:
    """Peak resident memory of the process tree, sampled on a thread."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
