"""Write-path + streaming tests: merge semantics on hand-built frames,
streaming availableNow ingest ≡ the batch publish run applied set by
set, analytics TSV pipeline."""

from __future__ import annotations

import copy
import os
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.operators import upsert as U
from alma_publish_to_marc_spark.plans import pipeline as PL
from alma_publish_to_marc_spark.sources import marclib
from alma_publish_to_marc_spark.streaming import ingest

from .fixtures_publish import GOOD_RECORD, HID_A, HID_B, write_drop


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


def test_merge_upsert_passes_tagged_rows_through(spark, stored):
    """A stored row deleted before the upsert (tagged) matches no incoming
    row: it stays as it was, tag and all, and its key inserts anew, even
    from an incoming row older than the stored one, which the temporal
    guard would drop on a live row."""
    tagged = U.tag_deletes(stored, spark.createDataFrame([Row(pid="p2")]),
                           "pid", "item")
    incoming = spark.createDataFrame([
        Row(pid="p1", status="NEW", update_ts=ts("2024-02-01T00:00:00")),
        Row(pid="p2", status="MOVED", update_ts=ts("2024-05-01T00:00:00")),
    ])
    out = sorted(
        U.merge_upsert(tagged, incoming, ["pid"], "update_ts").collect(),
        key=lambda r: (r["pid"], r[U.DELETED] or ""))
    assert [(r["pid"], r["status"], r["version"], r[U.DELETED])
            for r in out] == [("p1", "NEW", 4, None),
                              ("p2", "MOVED", 1, None),
                              ("p2", "KEEP", 1, "item")]
    assert out[1]["create_date_time"] == ts("2024-05-01T00:00:00")
    assert out[2].asDict() == tagged.where("pid = 'p2'").first().asDict()


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


def _publish_file(path, records, mtime):
    """A tar.gz publish file holding `records`, modified at `mtime`."""
    write_drop(path.parent, records, path.name)
    os.utime(path, (mtime, mtime))


def _manifest(path, deletes, mtime):
    """A tar.gz delete manifest: one record per (mms_id, holding_id or
    None)."""
    recs = []
    for mms_id, holding_id in deletes:
        rec = marclib.new_record(mms_id=mms_id)
        rec["control_fields"] = [{"tag": "001", "data": mms_id}]
        if holding_id:
            rec["fields"] = [{"tag": "852", "ind1": " ", "ind2": " ",
                              "subfields": [{"code": "8",
                                             "value": holding_id}]}]
        recs.append(rec)
    _publish_file(path, recs, mtime)


def _bare_bib(mms_id, part):
    """A bib with no holdings and one 774 constituent edge."""
    rec = copy.deepcopy(GOOD_RECORD)
    rec["mms_id"] = mms_id
    rec["control_fields"] = [{"tag": "001", "data": mms_id}]
    rec["fields"] = [
        f if f["tag"] != "774" else
        {**f, "subfields": [{"code": "w", "value": part}]}
        for f in rec["fields"] if f["tag"] in ("245", "BIB", "774")]
    return rec


def _newer_good_record():
    """GOOD_RECORD republished with a newer update date."""
    rec = copy.deepcopy(GOOD_RECORD)
    for f in rec["fields"]:
        if f["tag"] == "BIB":
            f["subfields"][2]["value"] = "2024-07-05 11:00:00 US/Eastern"
    return rec


def _snapshot(spark, wh):
    """Keys and versions of the merged tables, bib_part edges and the
    history rows."""
    def rows(name, *cols):
        return sorted(tuple(r) for r in
                      spark.read.parquet(f"{wh}/{name}").select(*cols)
                      .collect())
    return {
        "bib_brief": rows("bib_brief", "mms_id", "version",
                          "update_date_time"),
        "holding_brief": rows("holding_brief", "holding_id", "version"),
        "item": rows("item", "pid", "version"),
        "bib_part": rows("bib_part", "mms_id", "part_mms_id"),
        "deleted_record": rows("deleted_record", "record_type", "mms_id",
                               "record_id", "create_date_time"),
    }


def test_streaming_ingest_equals_batch(spark, tmp_path):
    # three drains: a drop; a later drop under an earlier-sorting name
    # (the first bib republished, newer, plus a new bib); then a delete
    # manifest (the new bib, and holding B with its item)
    drops = tmp_path / "drops"
    drops.mkdir()
    names = ["incremental-1_new_1.tar.gz", "incremental-0_new_1.tar.gz",
             "incremental-2_delete_1.tar.gz"]
    t0 = 1_700_000_000
    _publish_file(drops / names[0], [GOOD_RECORD], t0)
    _publish_file(drops / names[1], [_newer_good_record(),
                                      _bare_bib("9940008651", "9950008651")],
                  t0 + 100)
    # (a holding's delete record carries the holding id in its 001)
    _manifest(drops / names[2], [("9940008651", None), (HID_B, HID_B)],
              t0 + 200)

    landing = tmp_path / "landing"
    landing.mkdir()
    wh = str(tmp_path / "warehouse")
    for name in names:
        os.replace(drops / name, landing / name)
        ingest.run_incremental_ingest(spark, str(landing), wh)
    streamed = _snapshot(spark, wh)

    batch_wh = str(tmp_path / "batch")
    for i, name in enumerate(names):
        PL.run_publish_pipeline(spark, str(landing / name), batch_wh,
                                datetime.fromtimestamp(t0 + 100 * i))
    assert streamed == _snapshot(spark, batch_wh)

    assert [r[:2] for r in streamed["bib_brief"]] == [("9910008651", 2)]
    assert [r[0] for r in streamed["holding_brief"]] == [HID_A]
    assert "23111138651" not in {r[0] for r in streamed["item"]}
    assert streamed["bib_part"] == [("9910008651", "9920008651"),
                                    ("9940008651", "9950008651")]
    assert sorted(r[:3] for r in streamed["deleted_record"]) == [
        ("bib", "9940008651", "9940008651"),
        ("holding", "9910008651", HID_B),
        ("item", "9910008651", "23111138651")]

    # a second drain on the same checkpoint changes nothing
    ingest.run_incremental_ingest(spark, str(landing), wh)
    assert _snapshot(spark, wh) == streamed


def test_stream_applies_sets_in_name_order(spark, tmp_path):
    # one micro-batch, three publish sets: set 1's manifest deletes X and
    # set 2 republishes X, so X must be present afterwards; set 3 has no
    # sequence numbers (`_new.tar.gz`, `_delete.tar.gz`) and its manifest
    # deletes the bib Y it also publishes, so Y must be gone
    landing = tmp_path / "landing"
    landing.mkdir()
    x = _bare_bib("9940008651", "9950008651")
    y = _bare_bib("9960008651", "9970008651")
    t0 = 1_700_000_000
    sets = [["incremental-1_new_1.tar.gz", "incremental-1_delete_1.tar.gz"],
            ["incremental-2_new_1.tar.gz"],
            ["incremental-3_new.tar.gz", "incremental-3_delete.tar.gz"]]
    _publish_file(landing / sets[0][0], [x], t0)
    _manifest(landing / sets[0][1], [(x["mms_id"], None)], t0)
    _publish_file(landing / sets[1][0], [x], t0 + 100)
    _publish_file(landing / sets[2][0], [y], t0 + 200)
    _manifest(landing / sets[2][1], [(y["mms_id"], None)], t0 + 200)
    wh = str(tmp_path / "warehouse")
    ingest.run_incremental_ingest(spark, str(landing), wh)
    got = _snapshot(spark, wh)

    batch_wh = str(tmp_path / "batch")
    for i, names in enumerate(sets):
        PL.run_publish_pipeline(spark, [str(landing / n) for n in names],
                                batch_wh, datetime.fromtimestamp(t0 + 100 * i))
    assert got == _snapshot(spark, batch_wh)

    assert [r[:2] for r in got["bib_brief"]] == [(x["mms_id"], 1)]
    assert [r[:3] for r in got["deleted_record"]] == [
        ("bib", x["mms_id"], x["mms_id"]), ("bib", y["mms_id"], y["mms_id"])]


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
