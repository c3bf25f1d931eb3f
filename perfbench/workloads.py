"""The benchmark's workloads: closed loop, one client, ``local[n]`` with n
the workload's ``task_threads`` (all cores if None).

A workload makes its inputs from the seed, sets itself up, then runs
passes. A pass is the workload's ops in order; an op is one publish drop
or one reporting query. Every op's output is checked outside the timed
region.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "alma_publish_to_marc_spark")


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    problems: list[str] = field(default_factory=list)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


# --- publish_incremental -----------------------------------------------------
BASE_SEED = 20240601
LANDING_BYTES = "_landing_bytes"    # the base drop's size, kept with the base
SIZES = {
    # bibs in the base warehouse, bibs per drop, publish files per drop
    "full": (20000, 3000, 3),
    "tiny": (40, 8, 2),
}


def _source_key(size: str) -> str:
    """Digest of everything the base warehouse depends on: the engine's
    sources, the generator and the size."""
    h = hashlib.sha256(size.encode())
    for top in (PACKAGE, os.path.join(HERE, "publish_gen.py")):
        paths = [top] if top.endswith(".py") else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs
            if f.endswith(".py"))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build_base(spark, size: str, out_dir: str) -> None:
    """Build the base warehouse with the pipeline (in the child process
    :func:`base_warehouse` starts)."""
    import publish_gen as G
    from alma_publish_to_marc_spark.plans.pipeline import run_publish_pipeline

    drop = G.Catalog(BASE_SEED).full_drop(SIZES[size][0], 8)
    landing = out_dir + ".landing"
    landing_bytes = G.land(G.render_files(drop, "0"), landing)
    try:
        run_publish_pipeline(spark, landing + "/*", out_dir,
                             datetime(2024, 6, 1), _locations(spark))
    finally:
        shutil.rmtree(landing, ignore_errors=True)
    with open(os.path.join(out_dir, LANDING_BYTES), "w") as fh:
        fh.write(str(landing_bytes))


def base_warehouse(size: str) -> str:
    """The checkout's base warehouse, built by a child process the first
    time any workload runs (so the first run pays for it, and the measured
    process starts cold)."""
    cache = os.path.join(ROOT, ".perfbench_cache",
                         "base-" + _source_key(size))
    if not os.path.isdir(cache):
        tmp = f"{cache}.tmp{os.getpid()}"
        env = dict(os.environ)
        # the child gets no event log: the base build is not measured
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--build-base", tmp, "--size", size],
                       check=True, env=env, cwd=os.getcwd(),
                       stdout=subprocess.DEVNULL)
        try:
            os.replace(tmp, cache)
        except OSError:     # another run built it meanwhile
            shutil.rmtree(tmp)
    return cache


def _locations(spark):
    import publish_gen as G

    return spark.createDataFrame(
        [(i, lib, loc) for i, (lib, loc) in enumerate(G.LOCATIONS)],
        "id long, library_code string, code string")


class PublishIncremental:
    """A nightly drop into a warehouse several times its size. The base
    warehouse is built once per checkout and copied fresh before each
    pass; the drop lands in a new directory each time.

    The nightly sync is a fresh process per night, so the drop it waits
    for is the first one after the session starts: there is no warm-up op,
    a pass is that one drop, and it pays the cold start of the parse,
    split and merge paths (Python workers, code generation, JIT)."""

    name = "publish_incremental"
    max_passes = 1      # only the process's first drop is cold
    task_threads = None

    def __init__(self, seed: int, work: str, size: str) -> None:
        import publish_gen as G

        self.G = G
        self.work = work
        self.size = size
        n_base, n_drop, n_files = SIZES[size]
        cat = G.Catalog(BASE_SEED)
        base = cat.full_drop(n_base, 8)
        self.base_model = G.Warehouse()
        self.base_model.apply(base)
        self.base_bytes = 0     # the base drop's size, read in generate()
        cat.rng = random.Random(seed)
        self.drop = cat.incremental_drop(n_drop, n_files)
        self.expected = self.base_model.copy()
        self.expected.apply(self.drop)
        self.files = G.render_files(self.drop, "1")
        self.records_per_pass = self.drop.n_records
        self.landing_per_pass = sum(len(b) for b in self.files.values())
        self._seq = 0
        self.base_dir = ""
        self.warehouse = ""

    def generate(self) -> None:
        self.base_dir = base_warehouse(self.size)
        with open(os.path.join(self.base_dir, LANDING_BYTES)) as fh:
            self.base_bytes = int(fh.read())

    def _fresh_warehouse(self) -> str:
        self._seq += 1
        wh = os.path.join(self.work, f"warehouse{self._seq}")
        shutil.copytree(self.base_dir, wh,
                        ignore=shutil.ignore_patterns(LANDING_BYTES))
        problems = self.G.check_warehouse(self.base_model, wh)
        if problems:
            raise RuntimeError(f"base warehouse does not match its model: "
                               f"{problems}")
        return wh

    def warm_up(self, spark) -> list[Op]:
        return []

    def run_pass(self, spark, tracer) -> list[Op]:
        from alma_publish_to_marc_spark.plans.pipeline import \
            run_publish_pipeline

        self.warehouse = self._fresh_warehouse()
        landing = os.path.join(self.work, f"drop{self._seq}")
        self.G.land(self.files, landing)
        loc = _locations(spark)
        with tracer.span("op", workload=self.name,
                         records=self.records_per_pass,
                         landing_bytes=self.landing_per_pass):
            t0 = time.perf_counter()
            try:
                run_publish_pipeline(spark, landing + "/*", self.warehouse,
                                     datetime(2024, 6, 2), loc)
            except Exception as ex:  # an op that raises is a failed op
                return [Op("drop", time.perf_counter() - t0, False,
                           [f"{type(ex).__name__}: {ex}"[:500]])]
            dt = time.perf_counter() - t0
        problems = self.G.check_warehouse(self.expected, self.warehouse)
        return [Op("drop", dt, not problems, problems)]

    def finish(self, passes) -> None:
        """Every drop was checked right after it ran."""

    def cleanup(self) -> None:
        """The warehouses and drops live in the run's work directory."""

    def stored_bytes_per_input_byte(self) -> float:
        return dir_bytes(self.warehouse) / (self.base_bytes
                                            + self.landing_per_pass)


# --- report_queries ----------------------------------------------------------
REPORT_KEYS = (
    "item_info_flagship", "item_info_point_lookup", "correlated_event_counts",
    "asof_latest_event", "bucketed_item_info_join", "multiway_join_revenue",
    "last_writer_wins", "collect_list_per_group", "exact_dedup",
    "window_frame_suite", "broadcast_dim_lookup", "anti_join_deletes",
    "versioned_temporal_merge")
REPORT_CUSTOMERS = {"full": 500, "tiny": 60}


class ReportQueries:
    """The analyst read path: the reporting keys in seed-permuted order,
    each built and executed to the noop sink. Results are checked once per
    invocation against the keys' DuckDB oracles over the same parquet."""

    name = "report_queries"
    max_passes = None
    # The tables are a few MB, so the ops' time is the driver's planning
    # and scheduling, not the tasks. Two task threads run a pass as fast as
    # four and leave cores to the driver thread, the JIT and GC. On a
    # shared 4-vCPU VM, five interleaved runs of each gave a run_s spread
    # ((q3 - q1) / median) of 0.08 on local[2] and 0.20 on local[4].
    task_threads = 2

    def __init__(self, seed: int, work: str, size: str) -> None:
        self.seed = seed
        self.work = work
        # bucketed_item_info_join names its bucketed tables after the
        # input directory, under the checkout's spark-warehouse/
        self.sf_dir = os.path.join(work, f"perfbench_{os.getpid()}")
        self.customers = REPORT_CUSTOMERS[size]
        self.order = list(REPORT_KEYS)
        random.Random(seed).shuffle(self.order)
        self.failed_keys: dict[str, str] = {}
        # rows of the input tables; records_per_s is these per second of
        # a pass, a throughput reading of run_s
        self.records_per_pass = 0
        self.input_bytes_total = 0

    def generate(self) -> None:
        import tables_gen as TG

        tables = TG.star_tables(self.seed, self.customers)
        self.records_per_pass = sum(t.num_rows for t in tables.values())
        self.input_bytes_total = TG.write_tables(tables, self.sf_dir)

    def _bucketed_dir(self) -> str:
        from alma_publish_to_marc_spark.plans.warehouse_bench import _db_name

        return os.path.join(ROOT, "spark-warehouse", _db_name(self.sf_dir))

    def cleanup(self) -> None:
        shutil.rmtree(self._bucketed_dir(), ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, "spark-warehouse"))
        except OSError:
            pass  # not empty: it holds other tables

    def _op(self, spark, tracer, key: str) -> Op:
        from alma_publish_to_marc_spark import registry

        fn = registry.queries()[key]
        t0 = time.perf_counter()
        try:
            with tracer.span("report.build", key=key):
                df = fn(spark, self.sf_dir)
            with tracer.span("report.exec", key=key):
                df.write.format("noop").mode("overwrite").save()
        except Exception as ex:
            return Op(key, time.perf_counter() - t0, False,
                      [f"{type(ex).__name__}: {ex}"[:500]])
        return Op(key, time.perf_counter() - t0, True)

    def warm_up(self, spark) -> list[Op]:
        """One untimed pass that collects each key's rows instead of
        writing them to the noop sink; the rows are checked against the
        key's oracle after the pass (outside the op time)."""
        from alma_publish_to_marc_spark import registry

        qs = registry.queries()
        ops, rows = [], {}
        for key in self.order:
            t0 = time.perf_counter()
            try:
                rows[key] = qs[key](spark, self.sf_dir).toPandas()
                ops.append(Op(key, time.perf_counter() - t0, True))
            except Exception as ex:
                ops.append(Op(key, time.perf_counter() - t0, False,
                              [f"{type(ex).__name__}: {ex}"[:500]]))
        self._check(rows)
        self.finish([ops])
        return ops

    def run_pass(self, spark, tracer) -> list[Op]:
        ops = []
        for key in self.order:
            with tracer.span("op", workload=self.name, key=key):
                ops.append(self._op(spark, tracer, key))
        return ops

    def finish(self, passes) -> None:
        """Fail the ops of every key whose rows differ from its oracle's."""
        for ops in passes:
            for o in ops:
                bad = self.failed_keys.get(o.name)
                if bad and o.ok:
                    o.ok = False
                    o.problems.append(bad)

    def _check(self, rows: dict) -> None:
        """Compare each collected key's rows with its oracle over the same
        parquet with the repository's parity check; a key fails on what
        that check counts as a failure (row count, columns, or values
        beyond its float tolerance)."""
        import duckdb

        from alma_publish_to_marc_spark import registry
        from tools.check_parity import compare

        oracles = registry.oracle_sql()
        con = duckdb.connect()
        for f in os.listdir(self.sf_dir):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"'{os.path.join(self.sf_dir, f)}'")
        for key, got in rows.items():
            try:
                problems = compare(key, got, con.execute(oracles[key]).fetchdf())
            except duckdb.Error as ex:
                problems = [f"oracle failed: {ex}"[:500]]
            hard = [p for p in problems if p.startswith("oracle failed")
                    or "APPROX" in p or "rowcount" in p or "columns" in p]
            if hard:
                self.failed_keys[key] = f"{key}: {'; '.join(hard)}"
        con.close()

    def stored_bytes_per_input_byte(self) -> float:
        """The bucketed copy ``bucketed_item_info_join`` keeps of its
        tables (written by the warm-up), per byte of input parquet: the
        only data this read-only workload stores."""
        return dir_bytes(self._bucketed_dir()) / self.input_bytes_total


WORKLOADS = {w.name: w for w in (PublishIncremental, ReportQueries)}
