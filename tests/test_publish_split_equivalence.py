"""The Arrow fast path and the Catalyst expression spec must produce
identical outputs on the fixture corpus (good, duplicate, and both
error records), and the sync path's one-stage file split must equal
parsing the same files to records and splitting those."""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark import tables
from alma_publish_to_marc_spark.plans.publish_split import (
    split_publish, split_publish_catalyst)
from alma_publish_to_marc_spark.plans.publish_split_fast import (
    file_split_rows, split_outputs)
from alma_publish_to_marc_spark.schemas import PUBLISH_RECORD
from alma_publish_to_marc_spark.sources.publish import read_publish_records

from .fixtures_publish import ALL_RECORDS, GOOD_RECORD, write_drop

OUTPUTS = ["bibs", "holdings", "items", "errors", "records"]


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


@pytest.mark.parametrize("output", OUTPUTS)
def test_file_stage_equals_record_split(spark, drop, output):
    fused = split_outputs(file_split_rows(spark, drop))[output]
    staged = split_publish(read_publish_records(spark, drop))[output]
    assert fused.columns == staged.columns
    assert _canon(fused.collect()) == _canon(staged.collect())
    if output == "errors":
        reasons = [r["error"] for r in fused.collect()]
        assert reasons.count("missing 001/mms_id") == 2   # no 001, corrupt


def test_file_stage_is_one_map_over_the_scan(spark, drop):
    plan = (file_split_rows(spark, drop)._jdf.queryExecution()
            .executedPlan().toString())
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Scan binaryFile" in plan, plan
