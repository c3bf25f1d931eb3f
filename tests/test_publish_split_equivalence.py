"""The Arrow fast path and the Catalyst expression spec must produce
identical outputs on the fixture corpus (good, duplicate, and both
error records); the brief traversal of the sync's file stage plus the
pipeline's JVM finishing must equal functions/marc.py's extraction over
the split records; and the sync path's one-stage file split must equal
parsing the same files to records, splitting those and extracting by
that spec."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from alma_publish_to_marc_spark import tables
from alma_publish_to_marc_spark.functions import marc as M
from alma_publish_to_marc_spark.functions.scalars import (
    INSTITUTION_SUFFIX_RE, parse_date_tz_alias, suppress_flag)
from alma_publish_to_marc_spark.plans import pipeline as PL
from alma_publish_to_marc_spark.plans.publish_split import (
    split_publish, split_publish_catalyst)
from alma_publish_to_marc_spark.plans.publish_split_fast import (
    BRIEF_ROW, brief_row, file_split_rows, split_outputs, split_record)
from alma_publish_to_marc_spark.schemas import PUBLISH_RECORD
from alma_publish_to_marc_spark.sources.publish import read_publish_records

from .fixtures_publish import (ALL_RECORDS, GOOD_RECORD, cf, df_, sf,
                               write_drop)

OUTPUTS = ["bibs", "holdings", "items", "errors", "records"]
# the warehouse rows of each split output: bib_brief, holding_brief,
# item and bib_part rows, then the errors and per-record rows
TABLES = [*OUTPUTS, "parts"]
BATCH_TS = datetime(2024, 6, 1)


def _canon(rows):
    return sorted(
        (tuple(sorted(r.asDict(recursive=True).items(),
                      key=lambda kv: kv[0]))
         for r in rows),
        key=str)


@pytest.mark.parametrize("output", OUTPUTS)
def test_fast_equals_catalyst(spark, output):
    df = spark.createDataFrame(ALL_RECORDS, PUBLISH_RECORD)
    fast = split_publish(df)[output]
    spec = split_publish_catalyst(df)[output]
    assert fast.columns == spec.columns
    assert _canon(fast.collect()) == _canon(spec.collect())


# --- the brief extraction as functions/marc.py specifies it --------------
def _spec_bib_brief(bibs, batch_ts):
    """bib_brief from nested split bibs, all in Catalyst."""
    fields = F.col("fields")
    dates = M.extract_system_dates(fields, "BIB")
    return bibs.select(
        "mms_id",
        M.extract_title(fields).alias("title"),
        M.extract_author(fields).alias("author"),
        M.extract_publication_date(fields).alias("publication_date"),
        M.extract_publication_place(fields).alias("publication_place"),
        M.extract_publisher(fields).alias("publisher"),
        parse_date_tz_alias(dates["create_raw"]).alias("system_create_date_time"),
        parse_date_tz_alias(dates["update_raw"]).alias("system_update_date_time"),
        M.first_fixed_field(F.col("control_fields"), "008").alias("field008"),
        M.extract_extent(fields).alias("extent"),
        M.extract_material(fields).alias("material"),
        F.col("leader"),
        F.try_element_at(M.extract_issns(fields), F.lit(1)).alias("issn"),
        F.try_element_at(M.extract_isbns(fields), F.lit(1)).alias("isbn"),
        F.try_element_at(M.extract_oclcs(fields), F.lit(1)).alias("oclc_number"),
        M.extract_voyager_or_sierra_id(fields).alias("voyager_bib_id"),
        suppress_flag(M.subfields_as_string(fields, "BIB", "a"))
            .alias("suppress"),
        F.col("holding_ids"),
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )


def _spec_holding_brief(holdings, location, batch_ts):
    fields = F.col("fields")
    dates = M.extract_system_dates(fields, "HLD")
    libloc = M.extract_library_location(fields)
    out = holdings.select(
        "holding_id", "mms_id",
        M.extract_call_number(fields).alias("display_call_number"),
        parse_date_tz_alias(dates["create_raw"]).alias("system_create_date_time"),
        parse_date_tz_alias(dates["update_raw"]).alias("system_update_date_time"),
        M.first_fixed_field(F.col("control_fields"), "008").alias("field008"),
        suppress_flag(M.subfields_as_string(fields, "HLD", "a"))
            .alias("suppress"),
        M.extract_voyager_or_sierra_id(fields).alias("voyager_holding_id"),
        libloc["library_code"].alias("library_code"),
        libloc["location_code"].alias("location_code"),
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )
    dim = location.select(F.col("id").alias("location_id"),
                          F.col("library_code"),
                          F.col("code").alias("location_code"))
    return out.join(F.broadcast(dim), ["library_code", "location_code"],
                    "left")


def _spec_bib_parts(bibs):
    w_firsts = F.transform(
        M.fields_with_tag(F.col("fields"), "774"),
        lambda f: F.try_element_at(M.subfield_values(f, "w"), F.lit(1)))
    parts = F.filter(
        w_firsts,
        lambda v: v.isNotNull() & v.startswith("99")
        & v.rlike(INSTITUTION_SUFFIX_RE))
    return (bibs.select("mms_id", F.explode(parts).alias("part_mms_id"))
            .dropDuplicates(["mms_id", "part_mms_id"]))


def _spec_tables(out, location):
    return {"bibs": _spec_bib_brief(out["bibs"], BATCH_TS),
            "holdings": _spec_holding_brief(out["holdings"], location,
                                            BATCH_TS),
            "items": PL.extract_items(out["items"], BATCH_TS),
            "parts": _spec_bib_parts(out["bibs"]),
            "errors": out["errors"], "records": out["records"]}


def _pipeline_tables(out, location):
    return {"bibs": PL.extract_bib_brief(out["bibs"], BATCH_TS),
            "holdings": PL.extract_holding_brief(out["holdings"], location,
                                                 BATCH_TS),
            "items": PL.extract_items(out["items"], BATCH_TS),
            "parts": PL.extract_bib_parts(out["bibs"]),
            "errors": out["errors"], "records": out["records"]}


def _location(spark):
    return spark.createDataFrame(
        [(11, "LIB1", "LOC1"), (22, "LIB2", "LOC2"), (33, "LIBX", "LOCX")],
        "id long, library_code string, code string")


def _record(mms_id, fields, holding_ids=(), control=()):
    """A bib with one leader-only control group per holding id."""
    groups = [c for i, _ in enumerate(holding_ids)
              for c in (cf("003", f"24010{i}5u    8   4001uueng"),
                        cf("009", f"00000nx  a2200000{i}n 4500"))]
    return {"mms_id": mms_id, "leader": "00000cam a2200000 a 4500",
            "control_fields": [cf("001", mms_id), *control, *groups],
            "fields": fields, "source_file": "edge.tar.gz"}


HID_C, HID_D, HID_E = "22400001021", "22500000541", "22600000951"
EDGE_RECORDS = [
    # non-ASCII letters before a trailing period (Java's [^\W\d] is
    # ASCII-only, so the period stays); a null subfield code and a null
    # value; 264 with ind2 outside 1-3; ISBN best-of-length-13 reordering
    # with duplicates; a (CtY)…-yaledb-Voyager id; 774 $w without a suffix
    _record("9940008651", [
        df_("245", "1", "0", sf("a", "Příliš žluťoučký kůň."),
            sf("b", None), sf("c", "by nobody")),
        df_("100", "1", " ", sf(None, "ghost"), sf("a", "Novák, Jan."),
            sf("0", "(uri)x")),
        df_("110", "2", " ", sf("a", "Ústav,")),
        df_("260", " ", " ", sf("a", "Praha :"), sf("b", "Odeon,"),
            sf("c", "1999."), sf("g", "2001")),
        df_("264", " ", "4", sf("c", "©2019"), sf("b", "Copyright Co"),
            sf("a", "Brno")),
        df_("264", " ", "1", sf("a", "Plzeň :"), sf("b", "Dílo,"),
            sf("c", "[2020]")),
        df_("752", " ", " ", sf("a", "Czechia"), sf("d", "Praha")),
        df_("020", " ", " ", sf("a", "9781111111111"), sf(None, "x")),
        df_("020", " ", " ", sf("a", "123"), sf("a", "9782222222222"),
            sf("a", "123"), sf("a", "9782222222222"), sf("q", "pbk")),
        df_("022", " ", " ", sf("a", "1111-1111"), sf("y", "bad")),
        df_("022", " ", " ", sf("a", "2222-2222")),
        df_("035", " ", " ", sf("a", "(OCoLC)1"), sf("z", "old")),
        df_("035", " ", " ", sf("a", "(OCoLC)2"), sf(None, "n")),
        df_("035", " ", " ", sf("a", "(CtY)987654-yaledb-Voyager")),
        df_("079", " ", " ", sf("a", "ocm3"), sf("a", "x")),
        df_("300", " ", " ", sf("a", "200 p. :"), sf("b", "ill. ;"),
            sf("c", "24 cm.")),
        df_("340", " ", " ", sf("a", "paper"), sf("d", "printed")),
        df_("BIB", " ", " ", sf("1", "2021-03-04 05:06:07 US/Eastern")),
        df_("774", "0", " ", sf("w", "991234")),
        df_("774", "0", " ", sf("t", "no w")),
        df_("774", "0", " ", sf("w", "9930000521"), sf("w", "9940000521")),
        df_("774", "0", " ", sf("w", "9930000521")),
        # an 852 with $b but no $c; the pair comes from the next 852 of
        # the holding; relocated 035/HLD fields carry ids and dates
        df_("852", "0", " ", sf("8", HID_C), sf("b", "LIBX"),
            sf("h", "PG"), sf("i", "5.N6 ;")),
        df_("852", "0", " ", sf("8", HID_C), sf("c", "LOCX"),
            sf("b", "LIBX")),
        df_("035", " ", " ", sf("8", HID_C), sf("a", "(CtY-L)b7654321x")),
        df_("HLD", " ", " ", sf("8", HID_C), sf("a", "true"),
            sf("1", "2019-01-01 00:00:00"),
            sf("2", "2022-07-08 09:10:11 US/Eastern")),
        df_("ITM", " ", " ", sf("0", HID_C), sf("2", "23999991021"),
            sf("w", "2020-02-02 10:00:00 US/Eastern"), sf("g", " a  b ")),
    ], holding_ids=[HID_C], control=[cf("008", "edge 008")]),
    # no ISBN of length 13: the first value wins; empty-string codes
    # count as codes; no 245, 100 or 008 at all
    _record("9950008651", [
        df_("020", " ", " ", sf("a", "0-12"), sf("", "e"), sf("a", "0-99")),
        df_("035", " ", " ", sf("a", "(CtY)55-yaledb-Other")),
        df_("035", " ", " ", sf("a", "OCLC 9")),
        df_("340", " ", " ", sf("b", "vellum")),
        df_("BIB", " ", " ", sf("a", "false"), sf("2", "2024-01-01 00:00:00")),
        df_("852", "0", " ", sf("8", HID_D), sf("b", "LIB1"), sf("c", "LOC1"),
            sf("c", "LOC9"), sf("k", "Folio"), sf("h", "QA1 .")),
        df_("852", "0", " ", sf("8", HID_E), sf("c", "LOC2")),
    ], holding_ids=[HID_D, HID_E]),
]


@pytest.mark.parametrize("table", TABLES)
def test_brief_traversal_equals_marc_spec(spark, table):
    """brief_row (Python) + the pipeline's finishing == marc.py's
    Catalyst extraction over split_publish, on the fixtures and edges."""
    records = [*ALL_RECORDS, *EDGE_RECORDS]
    location = _location(spark)
    briefs = spark.createDataFrame(
        [brief_row(split_record(r)) for r in records], BRIEF_ROW)
    got = _pipeline_tables(split_outputs(briefs), location)[table]
    want = _spec_tables(
        split_publish(spark.createDataFrame(records, PUBLISH_RECORD)),
        location)[table]
    assert got.columns == want.columns
    rows = want.collect()
    assert _canon(got.collect()) == _canon(rows)
    if table in ("bibs", "holdings", "parts"):
        assert len(rows) == {"bibs": 3, "holdings": 5, "parts": 2}[table]


@pytest.fixture(scope="module")
def drop(tmp_path_factory):
    """The fixture records in one tar.gz, plus a record with no 001 and
    a corrupt file."""
    d = tmp_path_factory.mktemp("drop")
    no_001 = dict(GOOD_RECORD, mms_id=None, control_fields=[
        c for c in GOOD_RECORD["control_fields"] if c["tag"] != "001"])
    write_drop(d, [*ALL_RECORDS, no_001])
    (d / "incremental-1_new_2.tar.gz").write_bytes(b"not a tar.gz")
    yield str(d)
    tables.release()


@pytest.mark.parametrize("table", TABLES)
def test_file_stage_equals_record_split(spark, drop, table):
    location = _location(spark)
    fused = _pipeline_tables(split_outputs(file_split_rows(spark, drop)),
                             location)[table]
    staged = _spec_tables(split_publish(read_publish_records(spark, drop)),
                          location)[table]
    assert fused.columns == staged.columns
    assert _canon(fused.collect()) == _canon(staged.collect())
    if table == "errors":
        reasons = [r["error"] for r in fused.collect()]
        assert reasons.count("missing 001/mms_id") == 2   # no 001, corrupt


def test_file_stage_is_one_map_over_the_scan(spark, drop):
    plan = (file_split_rows(spark, drop)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Scan binaryFile" in plan, plan


def _relation_paths(plan) -> list[str]:
    """The root path of each file relation a logical plan reads, once per
    read."""
    leaves = plan.collectLeaves()
    return [leaf.relation().location().rootPaths().head().toUri().getPath()
            for leaf in map(leaves.apply, range(leaves.size()))
            if leaf.nodeName() == "LogicalRelation"]


def test_staged_merges_run_no_higher_order_functions(spark, drop, tmp_path,
                                                     monkeypatch):
    """No MARC higher-order function is left for Catalyst to interpret
    in the four staged merges of a publish run, and the item merge is one
    plan: no union of a second branch, and the stored items read once for
    the merge and once for the OP-J3 stale items."""
    plans, reads = {}, {}
    stage = PL._stage_table

    def recording(df, warehouse_dir, name):
        plan = df._jdf.queryExecution().optimizedPlan()
        plans[name] = plan.toJSON()
        reads[name] = _relation_paths(plan)
        return stage(df, warehouse_dir, name)

    monkeypatch.setattr(PL, "_stage_table", recording)
    wh = tmp_path / "wh"
    for batch in range(2):   # the second run merges into stored tables
        PL.run_publish_pipeline(spark, drop, str(wh),
                                datetime(2024, 6, 1 + batch),
                                _location(spark))
    assert sorted(plans) == ["bib_brief", "bib_part", "holding_brief", "item"]
    for name, plan in plans.items():
        for hof in ("ArrayFilter", "ArrayTransform", "LambdaFunction"):
            assert f"expressions.{hof}" not in plan, (name, hof)
    assert plans["item"].count("logical.Union") == 0
    assert 1 <= reads["item"].count(str(wh / "item")) <= 2, reads["item"]
