"""tables.load: the footer-pinned read schema equals the one Spark infers,
building a frame launches no Spark job, and a file rewritten in place is
read with its new schema."""

from __future__ import annotations

import datetime
import decimal
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.tables import TABLE_NAMES, load

from .conftest import SF_SMOKE, jobs_launched

SF01 = "/root/testdata/sf0.1"


def _inferred(spark, path: str, nanos: list[str]):
    """What load() returned before the footer schema: Spark's inferred
    read, with the TIMESTAMP(NANOS) longs converted to micros."""
    df = spark.read.parquet(path)
    for c in nanos:
        df = df.withColumn(
            c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz"))
    return df


def _nanos_columns(path: str) -> list[str]:
    return [f.name for f in pq.read_schema(path)
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns"]


@pytest.mark.parametrize("sf_dir", [
    SF_SMOKE,
    pytest.param(SF01, marks=pytest.mark.skipif(
        not os.path.isdir(SF01), reason="sf0.1 testdata absent")),
])
def test_schema_equals_inferred(spark, sf_dir):
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        want = _inferred(spark, path, _nanos_columns(path)).schema
        assert load(spark, sf_dir, name).schema == want, name


def test_schema_and_values_for_mixed_types(spark, tmp_path):
    t = pa.table({
        "r_ts_ns": pa.array([1_700_000_000_123_456_789, None],
                            pa.timestamp("ns")),
        "r_ts_us": pa.array([datetime.datetime(2024, 1, 2, 3, 4, 5, 6), None],
                            pa.timestamp("us")),
        "r_ts_utc": pa.array([datetime.datetime(2024, 1, 2), None],
                             pa.timestamp("us", tz="UTC")),
        "r_date": pa.array([datetime.date(2024, 1, 2), None], pa.date32()),
        "r_int": pa.array([7, None], pa.int32()),
        "r_dec": pa.array([decimal.Decimal("12.34"), None], pa.decimal128(9, 2)),
        "r_tags": pa.array([["a", None], None], pa.list_(pa.string())),
    })
    pq.write_table(t, str(tmp_path / "region.parquet"))
    path = str(tmp_path / "region.parquet")
    got = load(spark, str(tmp_path), "region")
    want = _inferred(spark, path, ["r_ts_ns"])
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    assert got.collect()[0]["r_ts_ns"] == datetime.datetime(
        2023, 11, 14, 22, 13, 20, 123456)


def test_spark_written_int96_timestamp(spark, tmp_path):
    """Spark's own writer stores timestamps as INT96, which pyarrow
    reports as timestamp[ns]; Spark reads them as timestamps, not longs."""
    out = str(tmp_path / "written")
    (spark.sql("SELECT 1 AS event_id, TIMESTAMP'2024-01-02 03:04:05' AS ts")
     .coalesce(1).write.parquet(out))
    part = next(f for f in os.listdir(out) if f.endswith(".parquet"))
    assert pq.read_metadata(os.path.join(out, part)).schema.column(1) \
        .physical_type == "INT96"
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(out, part), sf / "events.parquet")
    want = spark.read.parquet(str(sf / "events.parquet"))
    got = load(spark, str(sf), "events")
    assert got.schema == want.schema
    assert got.collect() == want.collect()


def test_load_launches_no_spark_job(spark, tmp_path):
    # a fresh copy: the first load of a file must be job-free too
    for name in TABLE_NAMES:
        shutil.copy(os.path.join(SF_SMOKE, f"{name}.parquet"), tmp_path)
    jobs = jobs_launched(spark, lambda: [
        load(spark, str(tmp_path), name).schema for name in TABLE_NAMES])
    assert jobs == []


def test_file_rewritten_in_place_is_read_with_new_schema(spark, tmp_path):
    path = str(tmp_path / "nation.parquet")
    pq.write_table(pa.table({"n_nationkey": pa.array([1], pa.int32())}), path)
    assert load(spark, str(tmp_path), "nation").columns == ["n_nationkey"]
    pq.write_table(pa.table({"n_nationkey": pa.array([1, 2], pa.int64()),
                             "n_name": ["a", "b"]}), path)
    df = load(spark, str(tmp_path), "nation")
    assert df.schema == spark.read.parquet(path).schema
    assert sorted(r["n_name"] for r in df.collect()) == ["a", "b"]
