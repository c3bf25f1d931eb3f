"""End-to-end pipeline test: two publish runs against one warehouse —
insert run, then an update run with a changed record, a stale holding,
and a delete manifest. Checks versions, temporal guard, stale-holding
anti-join, cascade history."""

from __future__ import annotations

import copy
import io
import tarfile
from datetime import datetime

import pytest
from pyspark.sql import Row

from alma_publish_to_marc_spark.plans import pipeline as PL
from alma_publish_to_marc_spark.sources import marclib

from .conftest import persisted_rdd_ids
from .fixtures_publish import GOOD_RECORD, HID_A, HID_B


def _write_drop(dirpath, records, name="incremental-1_new_1.tar.gz"):
    collection = ('<collection xmlns="http://www.loc.gov/MARC21/slim">'
                  + "".join(marclib.to_marcxml(
                      {k: r[k] for k in ("mms_id", "leader",
                                         "control_fields", "fields")},
                      namespace=False) for r in records)
                  + "</collection>").encode()
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        info = tarfile.TarInfo("p.xml")
        info.size = len(collection)
        tar.addfile(info, io.BytesIO(collection))
    (dirpath / name).write_bytes(buf.getvalue())


@pytest.fixture()
def location_dim(spark):
    return spark.createDataFrame([
        Row(id=11, library_code="LIB1", code="LOC1"),
        Row(id=22, library_code="LIB2", code="LOC2"),
    ])


def test_two_run_lifecycle(spark, tmp_path, location_dim):
    wh = str(tmp_path / "wh")

    # --- run 1: initial load -------------------------------------------
    run1 = tmp_path / "run1"
    run1.mkdir()
    _write_drop(run1, [GOOD_RECORD])
    c1 = PL.run_publish_pipeline(spark, str(run1) + "/*", wh,
                                 datetime(2024, 6, 1), location_dim)
    assert c1["cnt_bibs"] == 1 and c1["cnt_holdings"] == 2
    bib = spark.read.parquet(wh + "/bib_brief").collect()[0]
    assert bib["version"] == 1
    assert bib["title"] == "A title : ignored part one"
    assert bib["isbn"] == "9781234567897"
    holdings = {r["holding_id"]: r for r in
                spark.read.parquet(wh + "/holding_brief").collect()}
    assert holdings[HID_A]["location_id"] == 11      # broadcast lookup hit
    assert holdings[HID_B]["location_id"] == 22
    assert holdings[HID_A]["display_call_number"] == "Oversize QA76 .C48 2020"

    # --- run 2: newer record, holding B gone, delete manifest ----------
    rec2 = copy.deepcopy(GOOD_RECORD)
    # newer BIB $2 update date → guard lets the update through
    for f in rec2["fields"]:
        if f["tag"] == "BIB":
            f["subfields"] = [
                {"code": "a", "value": "false"},
                {"code": "1", "value": "2020-01-01 10:00:00 US/Eastern"},
                {"code": "2", "value": "2024-07-05 11:00:00 US/Eastern"},
            ]
        if f["tag"] == "245":
            f["subfields"] = [{"code": "a", "value": "New title"}]
    # drop holding B entirely (852 + its control group)
    rec2["fields"] = [f for f in rec2["fields"]
                      if not any(s["code"] == "8" and s["value"] == HID_B
                                 for s in f.get("subfields", []))]
    rec2["control_fields"] = rec2["control_fields"][:8]  # bib + A's group
    rec2["fields"] = [f for f in rec2["fields"]
                      if not (f["tag"] == "ITM"
                              and any(s["code"] == "0" and s["value"] == HID_B
                                      for s in f["subfields"]))]

    run2 = tmp_path / "run2"
    run2.mkdir()
    _write_drop(run2, [rec2], name="incremental-2_new_1.tar.gz")
    # delete manifest for an unrelated bib
    del_rec = marclib.new_record(mms_id="9977778651")
    del_rec["control_fields"] = [{"tag": "001", "data": "9977778651"}]
    (run2 / "incremental-2_delete_1.xml").write_bytes(
        marclib.to_marcxml(del_rec).encode())

    c2 = PL.run_publish_pipeline(spark, str(run2) + "/*", wh,
                                 datetime(2024, 7, 6), location_dim)
    assert c2["cnt_deletes"] == 1

    bib2 = spark.read.parquet(wh + "/bib_brief").collect()[0]
    assert bib2["title"] == "New title"
    assert bib2["version"] == 2                      # guarded update applied
    assert bib2["create_date_time"] is not None

    holdings2 = {r["holding_id"] for r in
                 spark.read.parquet(wh + "/holding_brief").collect()}
    assert holdings2 == {HID_A}                      # B anti-join-deleted
    items2 = {r["pid"] for r in spark.read.parquet(wh + "/item").collect()}
    assert "23111138651" not in items2               # B's item cascaded away

    hist = spark.read.parquet(wh + "/deleted_record").collect()
    got = {(r["record_type"], r["record_id"]) for r in hist}
    assert ("holding", HID_B) in got
    assert ("item", "23111138651") in got

    # --- run 2 replayed: idempotent ------------------------------------
    PL.run_publish_pipeline(spark, str(run2) + "/*", wh,
                            datetime(2024, 7, 6), location_dim)
    bib3 = spark.read.parquet(wh + "/bib_brief").collect()[0]
    assert bib3["version"] == 2                      # strict > guard held


def test_bib_parts_replaced_per_published_bib(spark, tmp_path, location_dim):
    """774$w constituent edges land in bib_part and are wholesale-
    replaced when the bib republishes (store_constituent_units,
    alma_publish_to_database.py:216-221)."""
    from datetime import datetime
    wh = str(tmp_path / "wh")
    run1 = tmp_path / "run1"
    run1.mkdir()
    _write_drop(run1, [GOOD_RECORD])
    PL.run_publish_pipeline(spark, str(run1) + "/*", wh,
                            datetime(2024, 7, 5), location_dim)
    got = {(r["mms_id"], r["part_mms_id"]) for r in
           spark.read.parquet(wh + "/bib_part").collect()}
    assert got == {("9910008651", "9920008651")}

    # holding brief carries the voyager id extracted from the SAME record
    hb = spark.read.parquet(wh + "/holding_brief").collect()[0]
    assert "voyager_holding_id" in hb.asDict()

    # republish with the 774 edge changed -> old edge replaced
    rec2 = {**GOOD_RECORD,
            "fields": [f if f["tag"] != "774" else
                       {**f, "subfields": [{"code": "w", "value": "9930008651"}]}
                       for f in GOOD_RECORD["fields"]]}
    run2 = tmp_path / "run2"
    run2.mkdir()
    _write_drop(run2, [rec2], name="incremental-2_new_1.tar.gz")
    PL.run_publish_pipeline(spark, str(run2) + "/*", wh,
                            datetime(2024, 7, 6), location_dim)
    got2 = {(r["mms_id"], r["part_mms_id"]) for r in
            spark.read.parquet(wh + "/bib_part").collect()}
    assert got2 == {("9910008651", "9930008651")}


def test_publish_run_and_ingest_release_their_persists(spark, tmp_path,
                                                       location_dim):
    # the split persists each drop's rows for its four consumers; a
    # publish run and an ingest micro-batch must release them when done
    from alma_publish_to_marc_spark.streaming import ingest

    landing = tmp_path / "landing"
    landing.mkdir()
    _write_drop(landing, [GOOD_RECORD])
    before = persisted_rdd_ids(spark)
    PL.run_publish_pipeline(spark, str(landing) + "/*", str(tmp_path / "wh"),
                            datetime(2024, 6, 1), location_dim)
    assert not persisted_rdd_ids(spark) - before
    ingest.run_incremental_ingest(spark, str(landing), str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out" / "bibs")).count() == 1
    assert not persisted_rdd_ids(spark) - before


def test_list_ids(spark, tmp_path):
    run1 = tmp_path / "drop"
    run1.mkdir()
    _write_drop(run1, [GOOD_RECORD])
    ids = PL.list_record_ids(spark, str(run1) + "/*").collect()
    assert ids[0]["mms_id"] == GOOD_RECORD["mms_id"]


def test_backfill_migration_stage_and_swap(spark, tmp_path):
    """Whole-table backfill (reference migrations add_item_policy /
    update_item_temp_locations) rewrites the item table atomically."""
    from pyspark.sql import Row, functions as F
    from alma_publish_to_marc_spark.plans import migrations as MIG

    wh = str(tmp_path / "wh")
    items = spark.createDataFrame([
        Row(pid="p1", policy=None, temp_location_id=None),
        Row(pid="p2", policy="OLD", temp_location_id=7),
        Row(pid="p3", policy=None, temp_location_id=None),
    ], "pid string, policy string, temp_location_id long")
    items.write.parquet(wh + "/item")

    item_json = spark.createDataFrame([
        Row(pid="p1", data='{"item_data": {"policy": {"value": "BOOK"}}}'),
        Row(pid="p2", data='{"item_data": {"policy": {"value": ""}}}'),
        Row(pid="p3", data='{"item_data": {}}'),
    ])
    MIG.run_backfill(
        spark, wh, "item",
        lambda cur: MIG.backfill_item_policy(cur, item_json).drop("updated"))

    got = {r["pid"]: r["policy"]
           for r in spark.read.parquet(wh + "/item").collect()}
    # non-empty JSON policy applied; empty/missing keep the stored value
    assert got == {"p1": "BOOK", "p2": "OLD", "p3": None}
    # staged copy cleaned up after the swap
    import os
    assert not os.path.exists(wh + "/item._staged")

    location = spark.createDataFrame(
        [Row(id=41, library_code="L1", code="C1")])
    tl_json = spark.createDataFrame([
        Row(pid="p1", data='{"holding_data": {"in_temp_location": true, '
                           '"temp_library": {"value": "L1"}, '
                           '"temp_location": {"value": "C1"}}}'),
        Row(pid="p2", data='{"holding_data": {"in_temp_location": true, '
                           '"temp_library": {"value": "L9"}, '
                           '"temp_location": {"value": "C9"}}}'),
        Row(pid="p3", data='{"holding_data": {"in_temp_location": false}}'),
    ])
    MIG.run_backfill(
        spark, wh, "item",
        lambda cur: MIG.backfill_temp_locations(cur, tl_json, location)
                       .drop("updated"))
    got_tl = {r["pid"]: r["temp_location_id"]
              for r in spark.read.parquet(wh + "/item").collect()}
    # hit resolves, miss updates to NULL (reference quirk), false untouched
    assert got_tl == {"p1": 41, "p2": None, "p3": None}


def test_pipeline_upgrades_old_warehouse_schema(spark, tmp_path, location_dim):
    """A warehouse written before a column was added (holding_brief
    gained voyager_holding_id) must still merge: _read_table aligns the
    stored side to the current schema with typed nulls."""
    from datetime import datetime as dt

    wh = str(tmp_path / "wh")
    run1 = tmp_path / "run1"
    run1.mkdir()
    _write_drop(run1, [GOOD_RECORD])
    PL.run_publish_pipeline(spark, str(run1) + "/*", wh,
                            dt(2024, 6, 1), location_dim)

    # simulate the pre-upgrade warehouse: rewrite holding_brief WITHOUT
    # the newer column
    old = spark.read.parquet(wh + "/holding_brief").drop("voyager_holding_id")
    old.write.mode("overwrite").parquet(wh + "/holding_brief._old")
    spark.read.parquet(wh + "/holding_brief._old").write \
        .mode("overwrite").parquet(wh + "/holding_brief")

    run2 = tmp_path / "run2"
    run2.mkdir()
    _write_drop(run2, [GOOD_RECORD])
    PL.run_publish_pipeline(spark, str(run2) + "/*", wh,
                            dt(2024, 6, 2), location_dim)
    rows = spark.read.parquet(wh + "/holding_brief").collect()
    assert rows
    assert "voyager_holding_id" in rows[0].asDict()
