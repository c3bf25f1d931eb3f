"""REST config sync (fake fetcher), JDBC codegen/batching, SFTP gate
(fake client), metrics counters."""

from __future__ import annotations

import math
import os

import pytest

from alma_publish_to_marc_spark import metrics
from alma_publish_to_marc_spark.sources import jdbc, rest, sftp


# --- REST -------------------------------------------------------------------
PAYLOADS = {
    "/conf/libraries/": {"library": [
        {"code": "LIB1", "name": "Main", "id": "L1", "path": "/l1",
         "campus": {"value": "C", "description": "Campus"}},
        {"code": "LIB2", "name": "Annex", "id": "L2", "path": "/l2",
         "campus": {}},
    ]},
    "/conf/libraries/LIB1/locations": {"location": [
        {"code": "LOC1", "external_name": "Stacks", "name": "stacks",
         "suppress_from_publishing": "false"},
        {"code": "LOC2", "external_name": "Vault", "name": "vault",
         "suppress_from_publishing": "true"},
    ]},
    "/conf/libraries/LIB2/locations": {"location": []},
    "/conf/code-tables/BaseStatus": {"row": [
        {"code": "0", "description": "Item not in place"},
        {"code": "1", "description": "Item in place"},
    ]},
}


def fake_fetch(uri: str) -> dict:
    if uri.startswith("/conf/sets"):
        offset = int(uri.split("offset=")[1].split("&")[0])
        total = 150
        batch = [{"id": i} for i in range(offset, min(offset + 100, total))]
        return {"set": batch}
    return PAYLOADS[uri]


def test_rest_dimension_sync(spark):
    libs = rest.load_libraries(spark, fake_fetch)
    rows = {r["code"]: r for r in libs.collect()}
    assert rows["LIB1"]["campus"] == "C"
    assert rows["LIB2"]["campus"] is None          # missing nested key

    locs = rest.load_locations(spark, fake_fetch, ["LIB1", "LIB2"])
    got = {r["code"]: r["suppress"] for r in locs.collect()}
    assert got == {"LOC1": "N", "LOC2": "Y"}        # OP-P5 derivation

    ct = rest.load_code_table(spark, fake_fetch, "BaseStatus")
    assert ct.count() == 2

    with_ids = rest.with_surrogate_ids(locs)
    ids = sorted(r["id"] for r in with_ids.collect())
    assert ids == [1, 2]                            # dense, deterministic


def test_rest_pagination_drains_pages():
    sets = rest.load_sets_paged(fake_fetch)
    assert len(sets) == 150                         # 100 + 50 (short page)


# --- JDBC -------------------------------------------------------------------
def test_upsert_sql_generation():
    sql = jdbc.generate_upsert_sql("item_base_status", ["pid"],
                                   ["status_code", "process_type"],
                                   guard_column="update_date_time")
    assert "ON CONFLICT (pid) DO UPDATE SET" in sql
    assert "version = item_base_status.version + 1" in sql
    assert sql.endswith(
        "WHERE item_base_status.update_date_time < excluded.update_date_time")
    nothing = jdbc.generate_upsert_sql("t", ["k"], ["v"], no_updates=True)
    assert nothing.endswith("DO NOTHING")


def test_upsert_partition_batching():
    rows = [{"k": i, "v": str(i)} for i in range(2500)]
    batches = list(jdbc.upsert_partition_batches(iter(rows), ["k", "v"],
                                                 batch_size=1000))
    assert [len(b) for b in batches] == [1000, 1000, 500]
    assert batches[0][0] == (0, "0")


# --- SFTP gate --------------------------------------------------------------
class FakeAttr:
    def __init__(self, name, size, mtime, is_dir=False):
        self.filename, self.st_size, self.st_mtime = name, size, mtime
        self.st_mode = 0o040000 if is_dir else 0o100644


class FakeSftp:
    """Directory whose file sizes grow for the first N polls."""

    def __init__(self, snapshots):
        self.snapshots = snapshots
        self.i = 0

    def listdir_attr(self, _dir):
        snap = self.snapshots[min(self.i, len(self.snapshots) - 1)]
        self.i += 1
        return [FakeAttr(*args) for args in snap]


def test_wait_for_stable_gate():
    growing = [
        [("a.tar.gz", 100, 1.0)],
        [("a.tar.gz", 200, 2.0)],          # still growing
        [("a.tar.gz", 300, 3.0)],
        [("a.tar.gz", 300, 3.0)],          # stable pair → proceed
    ]
    client = FakeSftp(growing)
    assert sftp.wait_for_stable(client, "/in", poll_seconds=0,
                                sleep=lambda _s: None) is True
    # took exactly: initial snapshot + 3 polls
    assert client.i == 4


def test_wait_for_stable_times_out():
    always_growing = [[("a", i, float(i))] for i in range(10)]
    client = FakeSftp(always_growing)
    assert sftp.wait_for_stable(client, "/in", poll_seconds=0, max_polls=3,
                                sleep=lambda _s: None) is False


def test_snapshot_skips_directories():
    client = FakeSftp([[("f", 1, 1.0), ("d", 0, 1.0, True)]])
    snap = sftp.snapshot_dir(client, "/in")
    assert list(snap) == ["f"]


# --- metrics ----------------------------------------------------------------
def test_run_counters(spark):
    from alma_publish_to_marc_spark.plans.publish_split import split_publish
    from alma_publish_to_marc_spark.schemas import PUBLISH_RECORD

    from .fixtures_publish import ALL_RECORDS

    records = spark.createDataFrame(ALL_RECORDS, PUBLISH_RECORD)
    out = split_publish(records)
    counters = metrics.run_counters(out)
    assert counters == {"cnt_bibs": 1, "cnt_holdings": 2, "cnt_items": 3,
                        "cnt_errors": 2, "cnt_records": 4, "cnt_files": 2}
    assert metrics.throughput(100, 4.0) == 25.0
    emitted = {}
    metrics.log_emitter()(counters)  # smoke: no raise
    with pytest.raises(Exception):
        metrics.cloudwatch_emitter()  # boto3 absent or no credentials
    _ = emitted


def test_compact_parquet_dir_reduces_file_count(spark, tmp_path):
    from alma_publish_to_marc_spark.sources.maintenance import (
        compact_parquet_dir)

    src = str(tmp_path / "frag")
    # 20 tiny single-row appends: the streaming-sink fragmentation shape
    for i in range(20):
        spark.range(i * 10, i * 10 + 10).toDF("id") \
            .coalesce(1).write.mode("append").parquet(src)
    n_in = sum(1 for _r, _d, fs in __import__("os").walk(src)
               for f in fs if f.endswith(".parquet"))
    assert n_in >= 20

    out = str(tmp_path / "compact")
    n_out = compact_parquet_dir(spark, src, out, target_bytes=10**9)
    assert n_out == 1
    a = sorted(r["id"] for r in spark.read.parquet(src).collect())
    b = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert a == b


# --- JSONL sink (SRC-8) -----------------------------------------------------
def test_write_jsonl_chunks_part_files(spark, tmp_path):
    from alma_publish_to_marc_spark.sources.publish import write_jsonl

    n, k = 25, 10
    df = spark.range(n).selectExpr("id", "cast(id * 2 as string) AS v") \
        .coalesce(1)
    out = str(tmp_path / "jsonl")
    write_jsonl(df, out, k)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == math.ceil(n / k)
    back = spark.read.schema(df.schema).json(out)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))
