"""Loaders for the driver-provided parquet star schema (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings. Schemas are fixed by the driver; we read them as-is
and never widen the scan: callers select the columns they need so Catalyst
prunes the parquet read. :func:`load` launches no Spark job: it reads the
file's parquet footer on the driver, once per file version, and hands the
resulting schema to ``spark.read.schema``. That schema is the one Spark
would infer (TIMESTAMP(NANOS) as long under nanosAsLong, INT96 as
timestamp, micros timestamps without a UTC flag as timestamp_ntz, every
field nullable), so plans are the same as with inference.

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

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_type
from pyspark.sql.types import LongType, StructField, StructType, TimestampType

# The events table's closed type domain (driver generator). Pinning it
# in one place keeps pivot columns and drift-probability columns in
# lockstep across modules.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


@functools.lru_cache(maxsize=256)
def _footer(path: str, mtime_ns: int,
            size: int) -> tuple[StructType, tuple[str, ...]]:
    """Spark's read schema of one parquet file and its TIMESTAMP(NANOS)
    columns, from one driver-side footer read. ``mtime_ns`` and ``size``
    are part of the memo key only, so a file rewritten in place is read
    again instead of served a stale schema."""
    schema = pq.read_metadata(path).schema
    int96 = {schema.column(i).path for i in range(len(schema))
             if schema.column(i).physical_type == "INT96"}
    fields, nanos = [], []
    for f in schema.to_arrow_schema():
        if f.name in int96:  # pyarrow reports INT96 as timestamp[ns]
            t = TimestampType()
        elif pa.types.is_timestamp(f.type) and f.type.unit == "ns":
            nanos.append(f.name)
            t = LongType()
        else:
            t = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        fields.append(StructField(f.name, t))
    return StructType(fields), tuple(nanos)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    schema, nanos = _footer(path, st.st_mtime_ns, st.st_size)
    df = spark.read.schema(schema).parquet(path)
    for c in nanos:
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


def fan_out(df: DataFrame, key: str) -> DataFrame:
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
    a real cluster; only few-file/few-row-group inputs fan out. The
    repartition is keyed on the frame's id column, a deterministic hash
    exchange that plan-shape tests count; results are partition-count
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
    return df.repartition(target, F.col(key))


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
