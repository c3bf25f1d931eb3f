"""Loaders for the driver-provided parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. Schemas are fixed by the driver; we read them as-is
and never widen the scan: callers select the columns they need so Catalyst
prunes the parquet read. ``spark.read.parquet`` is given no schema, so each
:func:`load` call runs one schema-inference Spark job over the footer.

This module also holds the one persist ledger: :func:`persist` pins a
reused frame, :func:`on_release` records any other deferred cleanup, and
:func:`release` runs every recorded action once nothing tracked is still
in use (between harness keys, at the end of a publish run, an ingest
micro-batch or a curation batch).
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The events table's closed type domain (driver generator). Pinning it
# in one place keeps pivot columns and drift-probability columns in
# lockstep across modules.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@functools.lru_cache(maxsize=None)
def _nanos_ts_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as
    long under spark.sql.legacy.parquet.nanosAsLong. Detected once per
    file from parquet metadata (driver-side, O(footer))."""
    import pyarrow as pa

    schema = pq.read_schema(path)
    return tuple(
        f.name for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in _nanos_ts_columns(path):
        # nanos since epoch (long) → microsecond timestamp, truncating —
        # same truncation DuckDB applies when reading nanos into its
        # microsecond TIMESTAMP, so oracle comparisons stay exact.
        # integer division — a double intermediate would lose precision
        # at nanosecond-epoch magnitude (~1.7e18 > 2^53). Cast to NTZ so
        # these columns match natively-read micros timestamp columns
        # (session TZ is pinned UTC, so the cast is a no-op on values).
        df = df.withColumn(
            c,
            F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"),
        )
    return df


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Raise an under-parallelized input to the session's default
    parallelism before per-row-heavy compute (interpreted HOF folds,
    Arrow/mapInPandas stages, explode+hash pipelines).

    The driver testdata arrives as ONE parquet file with ONE row group
    per table, so every scan stage is a single task and scan-fused
    per-row work serializes on one core of local[32] — the guide §2.5
    "input skew: one unsplittable file → repartition immediately after
    the read" case (profiled r11: the gram-matrix cell expansion ran
    4.4 s in one task; the same work spread over 32 tasks runs ~0.3 s).

    Scale discipline: this is a NO-OP whenever the upstream already
    carries >= defaultParallelism partitions — at 100 TB a scan arrives
    as thousands of row-group splits, so no payload ever reshuffles on
    a real cluster; only few-file/few-row-group inputs fan out. Keyed
    repartition (pass the frame's id column) keeps the exchange
    deterministic hash partitioning; results are partition-count
    invariant by the repo's determinism rules (CLAUDE.md) and gated by
    tests/test_partition_invariance.py.

    ``SPARK_GRAFT_FANOUT=off`` disables the rewrite so plan-contract
    tests can pin the at-scale (no-extra-exchange) plan shape.
    """
    if os.environ.get("SPARK_GRAFT_FANOUT", "auto") == "off":
        return df
    try:
        target = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() >= target:
            return df
    except Exception:
        return df  # streaming frames have no .rdd; batch sizing applies
    if keys:
        return df.repartition(target, *[F.col(k) for k in keys])
    return df.repartition(target)


# Deferred cleanups (unpersists, staged-dir removals, memo evictions),
# run in reverse order by release().
_RELEASE: list[Callable[[], object]] = []


def persist(df: DataFrame) -> DataFrame:
    """Persist a reused frame at MEMORY_AND_DISK and record its unpersist
    for :func:`release`. Returns the frame."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _RELEASE.append(df.unpersist)
    return df


def on_release(fn: Callable[[], object]) -> None:
    """Record a cleanup other than an unpersist for :func:`release`."""
    _RELEASE.append(fn)


def release() -> int:
    """Run and clear every recorded cleanup; returns how many ran."""
    n = 0
    while _RELEASE:
        _RELEASE.pop()()
        n += 1
    return n


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for spark.sql() use."""
    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
