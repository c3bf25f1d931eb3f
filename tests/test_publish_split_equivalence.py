"""The Arrow fast path and the Catalyst expression spec must produce
identical outputs on the fixture corpus (good, duplicate, and both
error records)."""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark.plans.publish_split import split_publish_catalyst
from alma_publish_to_marc_spark.plans.publish_split_fast import split_publish_fast
from alma_publish_to_marc_spark.schemas import PUBLISH_RECORD

from .fixtures_publish import ALL_RECORDS


def _canon(rows):
    return sorted(
        (tuple(sorted(r.asDict(recursive=True).items(),
                      key=lambda kv: kv[0]))
         for r in rows),
        key=str)


@pytest.mark.parametrize("output", ["bibs", "holdings", "items", "errors",
                                    "records"])
def test_fast_equals_catalyst(spark, output):
    df = spark.createDataFrame(ALL_RECORDS, PUBLISH_RECORD)
    fast = split_publish_fast(df)[output]
    spec = split_publish_catalyst(df)[output]
    assert fast.columns == spec.columns
    assert _canon(fast.collect()) == _canon(spec.collect())
