"""Self-test of the benchmark: every workload at tiny size, both modes, plus
the drop generator's model against hand-checked cases.

    python3 -m pytest perfbench -q -p no:cacheprovider

Run from the repository root (the end-to-end cases start Spark and take a
few minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import publish_gen as G  # noqa: E402
import tables_gen as TG  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_spec_matches_code():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] \
        == layers.metric_names()
    assert "setup_s" in {m["name"] for m in spec["end_to_end"]}


def test_generator_is_seeded():
    a, b = G.Catalog(3), G.Catalog(3)
    a.full_drop(30, 2)
    b.full_drop(30, 2)
    da, db = a.incremental_drop(10, 2), b.incremental_drop(10, 2)
    assert G.render_files(da, "1") == G.render_files(db, "1")
    assert TG.star_tables(5, 30)["events"].equals(
        TG.star_tables(5, 30)["events"])


def test_model_semantics():
    """Hand-checked: unchanged republish keeps the version, a newer one
    bumps it, a dropped holding cascades, a manifest deletes."""
    cat = G.Catalog(11)
    base = cat.full_drop(6, 1)
    wh = G.Warehouse()
    wh.apply(base)
    b0, b1, b2 = (cat.bibs[m] for m in sorted(cat.bibs)[:3])
    b1.ts = cat.tick = cat.tick + 1
    b2.holdings.append(G.Holding("22x" + G.SUFFIX, 0, G.LOCATIONS[0]))
    gone = b2.holdings.pop(0)
    drop = G.Drop([[b0, b1], [b2]], [{}], [(sorted(cat.bibs)[3], None)])
    wh.apply(drop)
    assert wh.bibs[b0.mms_id][1] == 1
    assert wh.bibs[b1.mms_id][1] == 2
    assert gone.hid not in wh.holdings
    assert wh.deleted["holding"] == 1
    assert wh.deleted["item"] == len(gone.items)
    assert wh.deleted["bib"] == 1 and wh.errors == 1


def _run(*args: str) -> tuple[int, str, str]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    return p.returncode, p.stdout, p.stderr


@pytest.mark.parametrize("workload", list(WORKLOADS))
@pytest.mark.parametrize("trace", ["0", "1"])
def test_workload_tiny(workload, trace):
    code, out, err = _run("--workload", workload, "--seed", "3",
                          "--seconds", "1", "--trace", trace,
                          "--size", "tiny")
    assert code == 0, err[-3000:]
    result = json.loads(out.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, err[-3000:]
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end" if trace == "0"
                                     else "per_layer"]]
    assert list(result["metrics"]) == names
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace == "0":
        assert all(v > 0 for v in values.values()), values
    elif workload == "report_queries":
        assert values["tables.load.jobs"] >= values["tables.load.calls"] > 0
    else:
        assert values["sources.publish.parse_passes"] >= 2
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_bare_directory_fails(tmp_path):
    """With only BENCHMARK.json and the benchmark's files the run must fail
    without printing a result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "report_queries", "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=tmp_path, capture_output=True,
                       text=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
