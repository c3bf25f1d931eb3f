"""Per-stage profiling of headline queries via the Spark event log.

Usage: python tools/profile_bench.py [sf_dir] [query ...]

For each query: clearCache, tables.release, setJobDescription(name),
noop-sink write (best of 2). Afterwards parses the event log and prints,
per query, the stages sorted by executor run time with task counts and
shuffle bytes — the guide §1 empirical loop without the UI.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
ONLY = sys.argv[2:]

EVDIR = "/tmp/spark-events-profile"


def main() -> None:
    os.makedirs(EVDIR, exist_ok=True)
    for f in os.listdir(EVDIR):
        os.unlink(os.path.join(EVDIR, f))

    from pyspark.sql import SparkSession

    from alma_publish_to_marc_spark.session import tune, DEFAULT_CPUS
    from alma_publish_to_marc_spark import registry, tables
    import bench

    spark = (SparkSession.builder.appName("profile")
             .master(f"local[{DEFAULT_CPUS}]")
             .config("spark.sql.shuffle.partitions", str(DEFAULT_CPUS))
             .config("spark.default.parallelism", str(DEFAULT_CPUS))
             .config("spark.driver.memory",
                     os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
             .config("spark.sql.autoBroadcastJoinThreshold",
                     str(64 * 1024 * 1024))
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", EVDIR)
             .getOrCreate())
    tune(spark)
    qs = registry.queries()
    names = ONLY or [n for n in bench.HEADLINE if n in qs]
    spark.range(1).count()

    walls: dict[str, float] = {}
    for name in names:
        spark.catalog.clearCache()
        tables.release()
        best = float("inf")
        for i in range(2):
            spark.sparkContext.setJobDescription(f"q::{name}::{i}")
            t0 = time.time()
            qs[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            best = min(best, time.time() - t0)
        spark.sparkContext.setJobDescription(None)
        walls[name] = round(best, 3)
        print(f"WALL {name} {best:.3f}", flush=True)
    spark.stop()

    # ---- parse the event log --------------------------------------
    ev = []
    for root, _dirs, files in os.walk(EVDIR):
        for f in files:
            if f.startswith("events_") or f.startswith("local-"):
                ev.append(os.path.join(root, f))
    ev.sort()
    stage_owner: dict[int, str] = {}   # stage id -> "name::runidx"
    stages: dict[int, dict] = {}
    with open(ev[0]) as f:
        for line in f:
            try:
                e = json.loads(line)
            except ValueError:
                continue
            t = e.get("Event")
            if t == "SparkListenerJobStart":
                desc = (e.get("Properties") or {}).get(
                    "spark.job.description", "")
                if desc.startswith("q::"):
                    for sid in e.get("Stage IDs", []):
                        stage_owner[sid] = desc[3:]
            elif t == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                sid = si["Stage ID"]
                sub = si.get("Submission Time")
                comp = si.get("Completion Time")
                stages[sid] = {
                    "name": si.get("Stage Name", ""),
                    "wall_ms": (comp - sub) if sub and comp else None,
                    "tasks": si.get("Number of Tasks"),
                    "details": (si.get("Details") or "").split("\n")[0],
                }
            elif t == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                m = e.get("Task Metrics") or {}
                agg = stages.setdefault(sid, {})
                agg["run_ms"] = agg.get("run_ms", 0) + m.get(
                    "Executor Run Time", 0)
                sr = (m.get("Shuffle Read Metrics") or {})
                agg["sh_read"] = agg.get("sh_read", 0) + sr.get(
                    "Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = (m.get("Shuffle Write Metrics") or {})
                agg["sh_write"] = agg.get("sh_write", 0) + sw.get(
                    "Shuffle Bytes Written", 0)

    by_query: dict[str, list] = {}
    for sid, st in stages.items():
        owner = stage_owner.get(sid)
        if owner is None:
            continue
        qname, run = owner.rsplit("::", 1)
        by_query.setdefault(qname, []).append((run, sid, st))

    for name in names:
        print(f"\n=== {name}  wall={walls.get(name)}s")
        rows = by_query.get(name, [])
        # show only the best run's stages (run index with lower total)
        tot = {}
        for run, sid, st in rows:
            tot[run] = tot.get(run, 0) + (st.get("wall_ms") or 0)
        if not tot:
            print("  (no stages — driver-only?)")
            continue
        best_run = min(tot, key=lambda r: tot[r])
        sel = sorted((st.get("wall_ms") or 0, sid, st)
                     for run, sid, st in rows if run == best_run)
        for wall_ms, sid, st in reversed(sel[-12:]):
            print(f"  {wall_ms:7d}ms run={st.get('run_ms', 0):7d}ms "
                  f"tasks={st.get('tasks'):4} "
                  f"shR={st.get('sh_read', 0) // 1024:7}K "
                  f"shW={st.get('sh_write', 0) // 1024:7}K  "
                  f"{st.get('name', '')[:60]}")


if __name__ == "__main__":
    main()
