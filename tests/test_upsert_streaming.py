"""Write-path + streaming tests: merge semantics on hand-built frames,
streaming availableNow ingest ≡ batch ingest, analytics TSV pipeline."""

from __future__ import annotations

import io
import tarfile
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.operators import upsert as U
from alma_publish_to_marc_spark.sources import marclib
from alma_publish_to_marc_spark.streaming import ingest

from .fixtures_publish import GOOD_RECORD


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def stored(spark):
    return spark.createDataFrame([
        Row(pid="p1", status="OLD", update_ts=ts("2024-01-10T00:00:00"),
            create_date_time=ts("2024-01-01T00:00:00"),
            update_date_time=ts("2024-01-10T00:00:00"), version=3),
        Row(pid="p2", status="KEEP", update_ts=ts("2024-06-01T00:00:00"),
            create_date_time=ts("2024-01-01T00:00:00"),
            update_date_time=ts("2024-06-01T00:00:00"), version=1),
    ])


def test_merge_upsert_guard_and_versions(spark, stored):
    incoming = spark.createDataFrame([
        Row(pid="p1", status="NEW", update_ts=ts("2024-02-01T00:00:00")),
        Row(pid="p2", status="STALE", update_ts=ts("2024-01-15T00:00:00")),
        Row(pid="p3", status="INSERTED", update_ts=ts("2024-03-01T00:00:00")),
        # duplicate key in the batch: latest must win before merge
        Row(pid="p3", status="DUPE_OLD", update_ts=ts("2024-02-01T00:00:00")),
    ])
    out = {r["pid"]: r for r in
           U.merge_upsert(stored, incoming, ["pid"], "update_ts").collect()}
    assert out["p1"]["status"] == "NEW" and out["p1"]["version"] == 4
    assert out["p1"]["create_date_time"] == ts("2024-01-01T00:00:00")
    # temporal guard: older incoming must NOT overwrite (OP-ST3)
    assert out["p2"]["status"] == "KEEP" and out["p2"]["version"] == 1
    assert out["p3"]["status"] == "INSERTED" and out["p3"]["version"] == 1


def test_merge_idempotent_on_replay(spark, stored):
    incoming = spark.createDataFrame(
        [Row(pid="p1", status="NEW", update_ts=ts("2024-02-01T00:00:00"))])
    once = U.merge_upsert(stored, incoming, ["pid"], "update_ts")
    twice = U.merge_upsert(once, incoming, ["pid"], "update_ts")
    r1 = {r["pid"]: r for r in once.collect()}
    r2 = {r["pid"]: r for r in twice.collect()}
    # strict > guard: replaying the same batch changes nothing
    assert r1["p1"]["version"] == 4 and r2["p1"]["version"] == 4
    assert r1["p1"]["update_date_time"] == r2["p1"]["update_date_time"]


def test_insert_ignore(spark, stored):
    incoming = spark.createDataFrame([
        Row(pid="p1", status="NEW", update_ts=ts("2024-02-01T00:00:00")),
        Row(pid="p9", status="FRESH", update_ts=ts("2024-02-01T00:00:00")),
    ])
    out = {r["pid"]: r for r in
           U.insert_ignore(stored, incoming, ["pid"], "update_ts").collect()}
    assert out["p1"]["status"] == "OLD"          # conflict → do nothing
    assert out["p9"]["status"] == "FRESH" and out["p9"]["version"] == 1


def test_cascade_delete_history(spark):
    holdings = spark.createDataFrame([
        Row(holding_id="h1", mms_id="m1"), Row(holding_id="h2", mms_id="m1")])
    items = spark.createDataFrame([
        Row(pid="i1", holding_id="h1", mms_id="m1"),
        Row(pid="i2", holding_id="h2", mms_id="m1")])
    doomed = spark.createDataFrame([Row(holding_id="h1")])
    surv_h, surv_i, hist = U.cascade_delete_holdings(holdings, items, doomed)
    assert [r["holding_id"] for r in surv_h.collect()] == ["h2"]
    assert [r["pid"] for r in surv_i.collect()] == ["i2"]
    got = {(r["record_type"], r["record_id"]) for r in hist.collect()}
    assert got == {("holding", "h1"), ("item", "i1")}


def test_stale_holdings_anti_join(spark):
    stored = spark.createDataFrame([
        Row(holding_id="h1", mms_id="m1"), Row(holding_id="h2", mms_id="m1"),
        Row(holding_id="h3", mms_id="m2")])   # m2 not republished
    bibs = spark.createDataFrame([Row(mms_id="m1")])
    incoming = spark.createDataFrame([Row(holding_id="h1")])
    stale = U.stale_holdings_for_published_bibs(stored, bibs, incoming)
    assert [r["holding_id"] for r in stale.collect()] == ["h2"]


def _land_drop(landing, name, mms_id):
    """One tar.gz upsert drop holding GOOD_RECORD under `mms_id`."""
    rec = {k: GOOD_RECORD[k]
           for k in ("mms_id", "leader", "control_fields", "fields")}
    rec["mms_id"] = mms_id
    rec["control_fields"] = [
        {"tag": "001", "data": mms_id} if c["tag"] == "001" else c
        for c in rec["control_fields"]]
    collection = ('<collection xmlns="http://www.loc.gov/MARC21/slim">'
                  + marclib.to_marcxml(rec, namespace=False)
                  + "</collection>").encode()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        info = tarfile.TarInfo("p.xml")
        info.size = len(collection)
        tar.addfile(info, io.BytesIO(collection))
    (landing / name).write_bytes(buf.getvalue())


def test_streaming_ingest_equals_batch(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    _land_drop(landing, "incremental-1_new_1.tar.gz", GOOD_RECORD["mms_id"])

    out = tmp_path / "warehouse"
    ingest.run_incremental_ingest(spark, str(landing), str(out))
    bibs = spark.read.parquet(str(out / "bibs"))
    items = spark.read.parquet(str(out / "items"))
    assert bibs.count() == 1
    assert items.count() == 3
    # a drop that lands late under an earlier-sorting name is still read,
    # and only its records are added (same checkpoint: no replays)
    _land_drop(landing, "incremental-0_new_1.tar.gz", "9940008651")
    ingest.run_incremental_ingest(spark, str(landing), str(out))
    bibs = spark.read.parquet(str(out / "bibs")).collect()
    assert sorted(r["mms_id"] for r in bibs) == ["9910008651", "9940008651"]
    src = {r["mms_id"]: r["source_file"] for r in bibs}
    assert src["9940008651"].endswith("incremental-0_new_1.tar.gz")
    items = spark.read.parquet(str(out / "items")).collect()
    assert sorted(r["mms_id"] for r in items) == (
        ["9910008651"] * 3 + ["9940008651"] * 3)


def test_analytics_tsv_pipeline(spark, tmp_path):
    rows = [
        # pid, due, status, active, ptype, pstatus, renewal, loan
        ["p1", "2024-01-01 10:00:00", "Item not in place", "Active",
         "loan", "x", "", "2023-12-01 10:00:00"],
        ["p1", "", "Item not in place", "Active", "hold", "", "", ""],  # 2nd row same pid → dropped
        ["p2", "", "In place", "Active", "", "", "", ""],               # wrong status
        ["p3", "", "Item not in place", "Inactive", "", "", "", ""],    # not Active
    ]
    tsv = "\n".join("\t".join(r) for r in rows)
    p = tmp_path / "analytics.tsv"
    p.write_bytes(tsv.encode("utf-16"))

    out = ingest.analytics_status_updates(
        ingest.read_analytics_tsv(spark, str(p))).collect()
    assert len(out) == 1
    r = out[0]
    assert r["pid"] == "p1"
    assert r["process_type"] == "LOAN"            # uppercased (OP-F13)
    assert r["due_date"] == ts("2024-01-01T10:00:00")
    assert r["renewal_date"] is None              # empty → null (OP-P10)
