"""End-to-end pipeline test: two publish runs against one warehouse —
insert run, then an update run with a changed record, a stale holding,
and a delete manifest. Checks versions, temporal guard, stale-holding
anti-join, cascade history."""

from __future__ import annotations

import copy
import os
from datetime import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Row

from alma_publish_to_marc_spark.plans import pipeline as PL
from alma_publish_to_marc_spark.sources import marclib

from .conftest import persisted_rdd_ids
from .fixtures_publish import GOOD_RECORD, HID_A, HID_B, write_drop


@pytest.fixture()
def location_dim(spark):
    return spark.createDataFrame([
        Row(id=11, library_code="LIB1", code="LOC1"),
        Row(id=22, library_code="LIB2", code="LOC2"),
    ])


def _without_holding_b(rec, move_item_to=None):
    """`rec` with holding B dropped entirely (852 + its control group).
    B's item is dropped too, or moved to holding `move_item_to`."""
    rec = copy.deepcopy(rec)
    for f in rec["fields"]:
        for s in f.get("subfields", []):
            if move_item_to and f["tag"] == "ITM" and s["value"] == HID_B:
                s["value"] = move_item_to
    rec["fields"] = [f for f in rec["fields"]
                     if not any(s["code"] in ("0", "8") and s["value"] == HID_B
                                for s in f.get("subfields", []))]
    rec["control_fields"] = rec["control_fields"][:8]  # bib + A's group
    return rec


def _manifest_xml(path, mms_id, holding_id=None):
    """A delete manifest of one record: its 001 bib and its 852$8
    holding."""
    rec = marclib.new_record(mms_id=mms_id)
    rec["control_fields"] = [{"tag": "001", "data": mms_id}]
    if holding_id:
        rec["fields"] = [{"tag": "852", "ind1": " ", "ind2": " ",
                          "subfields": [{"code": "8", "value": holding_id}]}]
    path.write_bytes(marclib.to_marcxml(rec).encode())


def _history(spark, wh):
    return sorted(tuple(r) for r in spark.read.parquet(wh + "/deleted_record")
                  .select("record_type", "mms_id", "record_id").collect())


def test_two_run_lifecycle(spark, tmp_path, location_dim):
    wh = str(tmp_path / "wh")

    # --- run 1: initial load -------------------------------------------
    run1 = tmp_path / "run1"
    run1.mkdir()
    write_drop(run1, [GOOD_RECORD])
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
    rec2 = _without_holding_b(rec2)

    run2 = tmp_path / "run2"
    run2.mkdir()
    write_drop(run2, [rec2], name="incremental-2_new_1.tar.gz")
    # delete manifest for an unrelated bib
    _manifest_xml(run2 / "incremental-2_delete_1.xml", "9977778651")

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
    # every swap dropped its staged copy
    assert not list((tmp_path / "wh").glob("*._staged"))


def _second_run(spark, tmp_path, location_dim, rec2, manifest=None):
    """Load GOOD_RECORD, then publish `rec2` (plus a delete manifest of
    (mms_id, holding_id) if given) into the same warehouse."""
    wh = str(tmp_path / "wh")
    for night, rec in enumerate([GOOD_RECORD, rec2], start=1):
        run = tmp_path / f"run{night}"
        run.mkdir()
        write_drop(run, [rec], name=f"incremental-{night}_new_1.tar.gz")
        if night == 2 and manifest:
            _manifest_xml(run / "incremental-2_delete_1.xml", *manifest)
        PL.run_publish_pipeline(spark, str(run) + "/*", wh,
                                datetime(2024, 6, night), location_dim)
    return wh


def test_item_moved_off_stale_holding(spark, tmp_path, location_dim):
    """An item whose stored holding goes stale while the drop publishes
    it under another holding is deleted with the holding, then
    re-inserted at version 1 (the reference's FK cascade runs before the
    item upsert)."""
    moved = "23111138651"
    wh = _second_run(spark, tmp_path, location_dim,
                     _without_holding_b(GOOD_RECORD, move_item_to=HID_A))
    items = {r["pid"]: r for r in spark.read.parquet(wh + "/item").collect()}
    assert items[moved]["holding_id"] == HID_A
    assert items[moved]["version"] == 1
    mms = GOOD_RECORD["mms_id"]
    assert _history(spark, wh) == [("holding", mms, HID_B),
                                   ("item", mms, moved)]


def test_item_moved_onto_manifest_deleted_holding(spark, tmp_path,
                                                  location_dim):
    """An item moved off a stale holding onto a holding the manifest
    deletes is deleted twice: with the stale holding, then, re-inserted,
    with the manifest's. Both holdings and all items end deleted."""
    moved = "23111138651"
    wh = _second_run(spark, tmp_path, location_dim,
                     _without_holding_b(GOOD_RECORD, move_item_to=HID_A),
                     manifest=(HID_A, HID_A))
    mms = GOOD_RECORD["mms_id"]
    assert _history(spark, wh) == [
        ("holding", mms, HID_A), ("holding", mms, HID_B),
        ("item", mms, "23111118651"), ("item", mms, "23111128651"),
        ("item", mms, moved), ("item", mms, moved)]
    for table in ("item", "holding_brief"):
        assert spark.read.parquet(f"{wh}/{table}").count() == 0, table


def test_stale_holding_named_in_manifest_deleted_once(spark, tmp_path,
                                                      location_dim):
    """A holding both stale (OP-J2) and named in a delete manifest has
    one history row, and so has its item."""
    wh = _second_run(spark, tmp_path, location_dim,
                     _without_holding_b(GOOD_RECORD), manifest=(HID_B, HID_B))
    mms = GOOD_RECORD["mms_id"]
    assert _history(spark, wh) == [("holding", mms, HID_B),
                                   ("item", mms, "23111138651")]
    assert {r["holding_id"] for r in
            spark.read.parquet(wh + "/holding_brief").collect()} == {HID_A}


def test_history_reads_only_staged_tables(spark, tmp_path, location_dim,
                                          monkeypatch):
    """The deleted_record append reads the staged tables the final
    writes read, not the stored tables or the landing files again."""
    from pyspark.sql.readwriter import DataFrameWriter

    written = {}
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        written[os.path.basename(path)] = self._df
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    _second_run(spark, tmp_path, location_dim,
                _without_holding_b(GOOD_RECORD), manifest=(HID_B, HID_B))
    # the directory of every file the append's scans read
    read = {os.path.basename(os.path.dirname(f))
            for f in written["deleted_record"].inputFiles()}
    assert read == {"bib_brief._staged", "holding_brief._staged",
                    "item._staged"}


def test_bib_parts_replaced_per_published_bib(spark, tmp_path, location_dim):
    """774$w constituent edges land in bib_part and are wholesale-
    replaced when the bib republishes (store_constituent_units,
    alma_publish_to_database.py:216-221)."""
    from datetime import datetime
    wh = str(tmp_path / "wh")
    run1 = tmp_path / "run1"
    run1.mkdir()
    write_drop(run1, [GOOD_RECORD])
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
    write_drop(run2, [rec2], name="incremental-2_new_1.tar.gz")
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
    write_drop(landing, [GOOD_RECORD])
    before = persisted_rdd_ids(spark)
    PL.run_publish_pipeline(spark, str(landing) + "/*", str(tmp_path / "wh"),
                            datetime(2024, 6, 1), location_dim)
    assert not persisted_rdd_ids(spark) - before
    ingest.run_incremental_ingest(spark, str(landing), str(tmp_path / "out"))
    assert spark.read.parquet(str(tmp_path / "out" / "bib_brief")).count() == 1
    assert not persisted_rdd_ids(spark) - before


def test_list_ids(spark, tmp_path):
    run1 = tmp_path / "drop"
    run1.mkdir()
    write_drop(run1, [GOOD_RECORD])
    ids = PL.list_record_ids(spark, str(run1) + "/*").collect()
    assert ids[0]["mms_id"] == GOOD_RECORD["mms_id"]


def test_backfill_migration_stage_and_swap(spark, tmp_path):
    """Whole-table backfill (reference migrations add_item_policy /
    update_item_temp_locations) rewrites the item table through a staged
    copy, which the swap removes."""
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
    write_drop(run1, [GOOD_RECORD])
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
    write_drop(run2, [GOOD_RECORD])
    PL.run_publish_pipeline(spark, str(run2) + "/*", wh,
                            dt(2024, 6, 2), location_dim)
    rows = spark.read.parquet(wh + "/holding_brief").collect()
    assert rows
    assert "voyager_holding_id" in rows[0].asDict()


def test_unreadable_table_fails_the_run(spark, tmp_path, location_dim):
    """Only a table not written yet reads as empty: a table that exists
    but cannot be read must fail the run and be left as it was, not be
    overwritten with the drop's rows alone."""
    wh = tmp_path / "wh"
    run1 = tmp_path / "run1"
    run1.mkdir()
    write_drop(run1, [GOOD_RECORD])
    PL.run_publish_pipeline(spark, str(run1) + "/*", str(wh),
                            datetime(2024, 6, 1), location_dim)

    table = wh / "holding_brief"
    for f in table.iterdir():
        f.unlink()
    (table / "part-00000.parquet").write_bytes(b"not a parquet file")
    before = {f.name: f.read_bytes() for f in table.iterdir()}
    with pytest.raises(Py4JJavaError, match=r"CANNOT_READ_FILE_FOOTER\] "
                       r".*/holding_brief/part-00000\.parquet"):
        PL.run_publish_pipeline(spark, str(run1) + "/*", str(wh),
                                datetime(2024, 6, 2), location_dim)
    assert {f.name: f.read_bytes() for f in table.iterdir()} == before



def test_manifests_are_routed_by_file_name(spark, tmp_path, location_dim):
    """SRC-6 tests the file name, not the path: a drop under a directory
    named `deleted-drops/` is upserted, and a `*_delete*` file beside it
    still deletes."""
    from alma_publish_to_marc_spark.sources import publish as P

    land = tmp_path / "deleted-drops"
    land.mkdir()
    write_drop(land, [GOOD_RECORD])
    assert P.read_delete_manifests(spark, str(land)).count() == 0
    wh = str(tmp_path / "wh")
    PL.run_publish_pipeline(spark, str(land), wh, datetime(2024, 6, 1),
                            location_dim)
    assert spark.read.parquet(wh + "/bib_brief").count() == 1

    write_drop(land, [GOOD_RECORD], name="incremental-1_delete.tar.gz")
    PL.run_publish_pipeline(spark, str(land), wh, datetime(2024, 6, 2),
                            location_dim)
    assert spark.read.parquet(wh + "/bib_brief").count() == 0
    history = spark.read.parquet(wh + "/deleted_record")
    assert history.where("record_type = 'bib'").count() == 1
