"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is fully materialized via the noop sink — forces every column
and operator to execute without paying collect/transfer cost, so the
number measures the engine, not the driver link.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headliners: the flagship plus the operators that dominate a real run
# (multi-way join, window dedup, group-collect, text dedup, ANN).
# The first 16 names are the frozen "core suite" (the r02 headliner
# set): their subtotal is emitted as core_16_sec every round so
# cross-round comparisons stay apples-to-apples as headliners grow.
# NEVER reorder or remove members; append new headliners after them.
CORE_16 = 16

HEADLINE = [
    "item_info_flagship",
    "multiway_join_revenue",
    "asof_latest_event",
    "last_writer_wins",
    "collect_list_per_group",
    "exact_dedup",
    "minhash_lsh_neardup",
    "ann_cosine_topk",
    "doc_quality_score",
    "window_frame_suite",
    "range_interval_join",
    "tfidf_top_terms",
    "doc_chunking",
    "duplicate_ngram_spans",
    "training_order_shuffle",
    "corpus_curation_end2end",
    "bucketed_item_info_join",
    "bm25_topk",
    "ngram_lm_perplexity",
    "duplicate_span_removal",
    "knn_graph_topk",
    "hll_distinct_estimate",
    "dq_constraint_audit",
    # TPC-H analog shapes (round 4): scan-agg, star join, folded
    # EXISTS/NOT-EXISTS, and the CF recommender's bounded self-join.
    "pricing_summary_report",
    "local_supplier_volume",
    "waiting_orders_supplier",
    "item_item_recs",
    # round 5: incremental IVF index maintenance (census + drift),
    # cross-doc boilerplate stripping, scalar-quantized ANN
    "ann_index_incremental",
    "boilerplate_segment_removal",
    "ann_sq_topk",
    # round 5c: preference QA (driver-paced Bradley-Terry), greedy
    # max-coverage selection (K anti-join rounds — the one new op
    # whose working set grows with the corpus), integer Wasserstein
    "bradley_terry_strength",
    "greedy_coverage_selection",
    "wasserstein_source_shift",
    # round 6: retrieval-quality eval (panel-broadcast ranking) and the
    # exact-integer HMM decode (one-shuffle scan-fused fold)
    "retrieval_ranking_metrics",
    "viterbi_state_decode",
    # round 7: blocked Gram matrix (one-shuffle cell aggregation — the
    # linalg primitive) and the FFD compaction fold (grouped
    # list-accumulator fold, the storage-planning shape)
    "gram_matrix_blocked",
    "compaction_bin_packing",
    # round 8: the engine's namesake path — nested publish-record
    # synthesis + the REAL split_publish (control-group walk, 852/ITM
    # relocation, item typing). bibs tracks the control-field/relocate
    # codec; items tracks the deepest explode (record→holdings→items)
    "publish_split_bibs",
    "publish_split_items",
    # round 8: the grid-blocked spatial radius self-join — the densest
    # new join shape (9-cell probe, corpus x corpus equi join)
    "grid_neighbor_join",
]


# --- Self-calibration probe (round 10) -------------------------------
# A fixed, plan-frozen workload whose wall time measures the HOST, not
# the engine: generated data (no parquet, no page cache), one hash
# shuffle, md5 string work, whole-stage codegen. The r9 official bench
# read 1.40x vs r8 purely from late-day machine slowdown (plan
# snapshots bit-identical, flag sets rotated across six runs) — the
# probe turns that into "calibration 1.4x -> normalized regressions {}"
# instead of phantom flags. _CALIBRATION_REF_SEC is the probe's
# best-of-3 on the quiet host that recorded the r10 baseline; re-record
# it ONLY together with a full baseline re-record.
# Measured 2026-08-16 (round 10) on the quietest observed machine state
# (load < 1, no co-tenant JVMs): probe floor 1.09-1.19s across three
# sessions. The same probe read 1.5-2.8s minutes later at load-avg 12 —
# the r9 phantom-regression signature the probe exists to divide out.
# Re-recorded round 11 (2026-08-16) TOGETHER with BENCH_BASELINE.json
# (the r10 verdict's task 1): same-day quiet-host floors measured
# 0.826 s (inside the warmed baseline-recording session, load 0.25),
# 0.968/1.038/1.188 s (standalone best-of-3 sessions). 0.95 is the
# low-middle of that band: normalization (which only ever divides
# timings DOWN, bench guard invariant) kicks in only on genuinely
# slowed hosts, and a quiet session reads host_factor 0.87-1.25 —
# under the 1.3x staleness warning below.
_CALIBRATION_REF_SEC = 0.95
# A host_factor beyond this means either a co-tenant or a STALE
# _CALIBRATION_REF_SEC (r10 advice: a constant pinned to one machine's
# floor silently dampens regressions on any persistently slower host).
# Surfaced as calibration.warning in the JSON so drift is visible in
# every artifact, not just to someone who remembers to re-measure.
# Threshold sits just ABOVE the measured quiet-host band (probe floors
# 0.83-1.25 s → factors 0.87-1.31 across five same-day quiet sessions,
# r11) and just below the r9 contention signature (probes 1.5-2.8 s →
# factors 1.6-2.9), so it separates real drift from probe variance.
_HOST_FACTOR_WARN = 1.6
_PROBE_ROWS = 8_000_000
_PROBE_PARTS = 32


def _calibration_probe(spark) -> float:
    """Best-of-3 wall time of the fixed probe plan (seconds); one
    untimed warm-up run first so the probe's own codegen/JIT doesn't
    masquerade as host slowness."""
    from pyspark.sql import functions as F

    def run() -> float:
        t0 = time.time()
        (spark.range(0, _PROBE_ROWS, 1, _PROBE_PARTS)
         .select((F.col("id") % 100003).alias("k"),
                 F.md5(F.col("id").cast("string")).alias("h"))
         .groupBy("k")
         .agg(F.count(F.lit(1)).alias("n"),
              F.min("h").alias("mn"), F.max("h").alias("mx"))
         .write.format("noop").mode("overwrite").save())
        return time.time() - t0

    run()
    return round(min(run() for _ in range(3)), 3)


def _host_busy_jiffies() -> int:
    """Non-idle jiffies across all CPUs since boot (user+nice+system+
    irq+softirq+steal; idle+iowait excluded)."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    u, n, s, idle, iow, irq, sirq, steal = (int(x) for x in parts[1:9])
    return u + n + s + irq + sirq + steal


def _our_tree_jiffies() -> int:
    """utime+stime jiffies of this process and every live descendant
    (the local-mode JVM and its Python workers are all children)."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit():
            continue
        try:
            with open(f"/proc/{pid_s}/stat") as f:
                st = f.read()
        except OSError:
            continue
        # fields after the parenthesized comm (which may contain spaces)
        rest = st.rsplit(")", 1)[1].split()
        pid = int(pid_s)
        ppid[pid] = int(rest[1])
        # utime+stime plus cutime+cstime: reaped children (short-lived
        # Python workers) fold into the parent's c-counters, so their
        # work is not lost to the window
        cpu[pid] = (int(rest[11]) + int(rest[12])
                    + int(rest[13]) + int(rest[14]))
    total = 0
    for pid in cpu:
        p = pid
        for _ in range(64):  # ancestry walk, bounded
            if p == me:
                total += cpu[pid]
                break
            p = ppid.get(p, 0)
            if p <= 1:
                break
    return total


class _ContentionMeter:
    """Per-window co-tenant CPU load: average busy cores on the host
    that do NOT belong to our process tree. Short-lived Python workers
    that die inside a window undercount 'ours' slightly (their jiffies
    stay in the host number), so the estimate is an upper bound."""

    def __init__(self) -> None:
        self._hz = os.sysconf("SC_CLK_TCK")

    def start(self) -> None:
        self._t0 = time.time()
        self._h0 = _host_busy_jiffies()
        self._o0 = _our_tree_jiffies()

    def stop(self) -> float:
        dt = max(time.time() - self._t0, 1e-6)
        host = _host_busy_jiffies() - self._h0
        ours = _our_tree_jiffies() - self._o0
        return round(max(host - ours, 0) / self._hz / dt, 2)


def main() -> None:
    from alma_publish_to_marc_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    qs = entrymod.queries()
    timings: dict[str, float] = {}

    # warm the JVM + parquet footers once so timings measure steady state
    spark.range(1).count()
    probe_pre = _calibration_probe(spark)

    head = (HEADLINE[:CORE_16]
            if os.environ.get("SPARK_GRAFT_BENCH_CORE_ONLY") else HEADLINE)
    names = [n for n in head if n in qs]
    from alma_publish_to_marc_spark import tables

    meter = _ContentionMeter()
    ext_load: dict[str, float] = {}
    for name in names:
        # drop blocks persisted by the previous query (minhash sigs etc.)
        # and deferred staged-parquet dirs (ktruss_prune)
        spark.catalog.clearCache()
        tables.release()
        # two runs, report the min: first run pays JIT/codegen warmup and
        # page-cache misses; steady state is what a resident cluster sees
        best = float("inf")
        best_ext = 0.0
        for _ in range(2):
            meter.start()
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
            ext = meter.stop()
            if sec < best:
                best, best_ext = sec, ext
        timings[name] = round(best, 3)
        ext_load[name] = best_ext

    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    # streaming end-to-end latency is reported in its own field (not in
    # queries/value) so the headline total stays comparable round-over-
    # round; per-batch wall time is the incremental-run latency metric.
    streaming = ({} if os.environ.get("SPARK_GRAFT_BENCH_CORE_ONLY")
                 else _bench_streaming_curation(spark))

    def rerun(name: str) -> tuple[float, float]:
        """Fresh best-of-2 of one key (same protocol as the main loop),
        for adjudicating flags at the end of the suite."""
        spark.catalog.clearCache()
        tables.release()
        best, best_ext = float("inf"), 0.0
        for _ in range(2):
            meter.start()
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
            ext = meter.stop()
            if sec < best:
                best, best_ext = sec, ext
        return round(best, 3), best_ext

    probe_post = _calibration_probe(spark)
    # host factor: how much slower THIS machine state is than the quiet
    # host that recorded the baseline. min(pre, post) is the host's best
    # achievable; a pre/post gap >1.3x additionally means the machine
    # drifted DURING the run (the r9 failure signature).
    calibration = min(probe_pre, probe_post)
    host_factor = (round(calibration / _CALIBRATION_REF_SEC, 3)
                   if _CALIBRATION_REF_SEC else 1.0)

    verdicts = _regressions(timings, sf, host_factor, ext_load)
    # Adjudicate: a transient co-tenant spike won't reproduce on a
    # fresh best-of-2 minutes later; a real plan regression will. The
    # original timing stays in "queries" (honest artifact); only the
    # FLAG moves, with the retry recorded.
    for name in list(verdicts["regressions"]):
        entry = verdicts["regressions"][name]
        retry_sec, retry_ext = rerun(name)
        entry["retry_sec"], entry["retry_ext_load_cores"] = retry_sec, retry_ext
        base = entry["prev_sec"]
        adj = retry_sec / max(host_factor, 1.0)
        if not (adj > base * _REGRESSION_FACTOR
                and adj - base > _REGRESSION_MIN_DELTA_SEC):
            verdicts["contended" if retry_ext > _CONTENTION_CORES
                     else "transient"][name] = verdicts["regressions"].pop(name)

    core = [n for n in HEADLINE[:CORE_16] if n in timings]
    calibration_block = {"probe_pre_sec": probe_pre,
                         "probe_post_sec": probe_post,
                         "ref_sec": _CALIBRATION_REF_SEC,
                         "host_factor": host_factor,
                         "ext_load_cores": ext_load}
    if host_factor > _HOST_FACTOR_WARN:
        calibration_block["warning"] = (
            f"host_factor {host_factor} > {_HOST_FACTOR_WARN}: either a "
            f"loaded host or a stale _CALIBRATION_REF_SEC — if this "
            f"persists across quiet sessions, re-record the baseline "
            f"(SPARK_GRAFT_RECORD_BASELINE=1)")
        print(f"bench: WARNING {calibration_block['warning']}",
              file=sys.stderr)
    # Key order matters: the driver's BENCH_r{N}.json wrapper keeps
    # only the LAST 2000 chars of stdout (r10's tail lost "queries" to
    # front-truncation and parsed=null). The bulky diagnostic
    # (calibration.ext_load_cores, ~1.1 KB) goes FIRST so truncation
    # eats it; the flags and the per-key timings go LAST so the
    # artifact always carries them.
    payload = {
        "metric": "headline_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "calibration": calibration_block,
        "streaming": streaming,
        "core_16_sec": round(sum(timings[n] for n in core), 3),
        "sf": sf,
        **verdicts,
        "queries": timings,
    }
    print(json.dumps(payload))
    if os.environ.get("SPARK_GRAFT_RECORD_BASELINE"):
        _record_baseline(payload)


def _record_baseline(payload: dict) -> None:
    """Persist this run's per-key timings as the guard's baseline
    (BENCH_BASELINE.json). Refuses a contaminated run: recording a
    co-tenant-inflated baseline would hide future regressions behind
    the inflation, the exact r9→r10 failure the repo baseline exists
    to end. Run on a quiet host (loadavg < 0.5, no flags)."""
    cal = payload["calibration"]
    flags = {k: v for k in ("regressions", "contended", "transient")
             for v in [payload.get(k) or {}] if v}
    # stricter than the drift warning: a baseline recorded on even a
    # mildly slowed host bakes the inflation into every future compare
    if flags or cal["host_factor"] > 1.1:
        print(f"bench: NOT recording baseline — run not clean "
              f"(flags={list(flags)}, host_factor="
              f"{cal['host_factor']})", file=sys.stderr)
        return
    here = os.path.dirname(os.path.abspath(__file__))
    out = {
        "recorded_date": time.strftime("%Y-%m-%d"),
        "sf": payload["sf"],
        "ref_sec": _CALIBRATION_REF_SEC,
        "probe_floor_sec": min(cal["probe_pre_sec"],
                               cal["probe_post_sec"]),
        "note": ("Per-key quiet-host baseline for bench.py's "
                 "regression guard. Re-record ONLY together with "
                 "_CALIBRATION_REF_SEC on a load<0.5 host."),
        "queries": payload["queries"],
        "core_16_sec": payload["core_16_sec"],
        "total_sec": payload["value"],
        "streaming": payload["streaming"],
    }
    with open(os.path.join(here, "BENCH_BASELINE.json"), "w") as f:
        json.dump(out, f, indent=1)
    print("bench: baseline recorded to BENCH_BASELINE.json",
          file=sys.stderr)


def _bench_streaming_curation(spark) -> dict[str, float]:
    """Incremental-path headliner: two availableNow drains of a
    half/half documents split through ingest → funnel (lang/quality/
    batch-vs-corpus near-dup) → band+gram index append → shard write
    (streaming/curation.py). Per-batch wall-clock is the end-to-end
    latency one scheduled incremental run pays; batch1 additionally
    probes batch0's persisted band/gram index, so its time is the
    steady-state per-drop cost."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from alma_publish_to_marc_spark.streaming.curation import (
        run_incremental_curation)
    from alma_publish_to_marc_spark.tables import load

    root = tempfile.mkdtemp(prefix="bench_stream_")
    landing = os.path.join(root, "landing")
    os.makedirs(landing)
    state = os.path.join(root, "state")
    ckpt = os.path.join(root, "ckpt")
    docs = load(spark, SF_DIR, "documents").select("doc_id", "text")
    out: dict[str, float] = {}
    try:
        for i in (0, 1):
            (docs.where(F.col("doc_id") % 2 == i).coalesce(8)
             .write.mode("append").parquet(landing))
            spark.catalog.clearCache()
            t0 = time.time()
            run_incremental_curation(spark, landing, state, ckpt)
            out[f"streaming_curation_batch{i}"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# Regression guard: compare against the previous round's recorded bench.
# Run-to-run noise on this box is 20-30% — and ABSOLUTE noise on
# sub-second queries is a large multiple of that (measured: exact_dedup
# best-of-N ranges 0.32-0.65s across machine states with an identical
# plan), so a ratio alone flags phantoms. Flag only when both the ratio
# AND the absolute delta are beyond the noise floor.
_REGRESSION_FACTOR = 1.5
_REGRESSION_MIN_DELTA_SEC = 0.5


def _looks_like_timings(d, known: set[str]) -> bool:
    """A recovered queries dict must be flat {name: number} and its
    keys must be real registry/headline names — the tail-recovery
    regex depends on json.dumps spacing surviving truncation, so an
    unvalidated match could silently roll the baseline back to a
    mangled fragment (r10 advice)."""
    return (isinstance(d, dict) and d
            and all(isinstance(v, (int, float)) for v in d.values())
            and all(k in known for k in d))


def _prev_timings(sf) -> dict[str, float]:
    """Per-key baseline for the regression guard. Precedence:
    1. BENCH_BASELINE.json — repo-owned, recorded deliberately on a
       verified-quiet host together with _CALIBRATION_REF_SEC (r10
       verdict tasks 1+6). This never depends on a driver wrapper's
       truncated tail surviving.
    2. Newest BENCH_r{N}.json whose parsed payload (or recovered
       tail) carries a queries dict for this sf — fallback only.
    Skipped/unparseable artifacts are logged to stderr so a silent
    baseline rollback is visible (r10 advice)."""
    here = os.path.dirname(os.path.abspath(__file__))
    known = set(HEADLINE)
    base_fn = os.path.join(here, "BENCH_BASELINE.json")
    try:
        with open(base_fn) as f:
            rec = json.load(f)
        if rec.get("sf") == sf and _looks_like_timings(
                rec.get("queries"), known):
            return rec["queries"]
        if os.path.exists(base_fn):
            print(f"bench: BENCH_BASELINE.json present but unusable "
                  f"for sf={sf}; falling back to BENCH_r*.json",
                  file=sys.stderr)
    except (OSError, ValueError) as e:
        if os.path.exists(base_fn):
            print(f"bench: BENCH_BASELINE.json unreadable ({e}); "
                  f"falling back to BENCH_r*.json", file=sys.stderr)
    best: dict[str, float] | None = None
    best_n = -1
    for fn in sorted(os.listdir(here)):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", fn)
        if not m:
            continue
        try:
            with open(os.path.join(here, fn)) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            print(f"bench: skipping unparseable {fn}", file=sys.stderr)
            continue
        parsed = rec.get("parsed") or rec
        if not isinstance(parsed, dict) or "queries" not in parsed:
            # driver wrapper with parsed=None and a front-truncated
            # "tail" string (r9 artifact shape): recover the queries
            # dict so the guard compares against the LATEST round, not
            # two rounds back (a silent skip here made r10's guard
            # baseline r8 and flagged a cross-round phantom)
            tail = rec.get("tail") if isinstance(rec, dict) else None
            qm = re.search(r'"queries": ({.*?})', tail or "")
            if not qm:
                print(f"bench: skipping {fn} (no parsed payload, "
                      f"tail unrecoverable)", file=sys.stderr)
                continue
            try:
                parsed = {"sf": float(rec.get("sf", "nan")),
                          "queries": json.loads(qm.group(1))}
            except ValueError:
                print(f"bench: skipping {fn} (recovered tail not "
                      f"JSON)", file=sys.stderr)
                continue
            if not _looks_like_timings(parsed["queries"], known):
                print(f"bench: skipping {fn} (recovered keys not "
                      f"registry names)", file=sys.stderr)
                continue
        if parsed.get("sf") != sf or "queries" not in parsed:
            continue
        if int(m.group(1)) > best_n:
            best_n, best = int(m.group(1)), parsed["queries"]
    return best or {}


# A flagged query whose window saw more than this many co-tenant busy
# cores is reported as "contended", not a regression: on local[32] a
# heavy co-tenant steals cores mid-suite and inflates individual keys
# 1.5-2.5x with a bit-identical plan (r9: six bench runs, flag sets
# fully rotated, plan snapshots frozen).
_CONTENTION_CORES = 2.0


def _regressions(timings: dict[str, float], sf, host_factor: float,
                 ext_load: dict[str, float]) -> dict[str, dict]:
    """Flag only when the HOST-NORMALIZED ratio and the absolute delta
    both clear the noise floor. host_factor > 1 means the calibration
    probe ran slower than on the baseline host — every query is
    expected to inflate by that much with an unchanged plan, so the
    comparison divides it out (never multiplies: a faster-than-baseline
    host is not allowed to mask a real regression). Flags whose own
    window measured significant co-tenant CPU move to "contended" —
    visible, but not claimed as plan regressions."""
    prev = _prev_timings(sf)
    norm = max(host_factor, 1.0)
    reg: dict[str, dict[str, float]] = {}
    contended: dict[str, dict[str, float]] = {}
    transient: dict[str, dict[str, float]] = {}
    for name, sec in timings.items():
        base = prev.get(name)
        adj = sec / norm
        if (base and base > 0 and adj > base * _REGRESSION_FACTOR
                and adj - base > _REGRESSION_MIN_DELTA_SEC):
            entry = {"prev_sec": base, "now_sec": sec,
                     "normalized_sec": round(adj, 3),
                     "factor": round(adj / base, 2),
                     "ext_load_cores": ext_load.get(name, 0.0)}
            if ext_load.get(name, 0.0) > _CONTENTION_CORES:
                contended[name] = entry
            else:
                reg[name] = entry
    return {"regressions": reg, "contended": contended,
            "transient": transient}


if __name__ == "__main__":
    main()
