"""Unit tests for the scalar library — cases the oracle sweep can't
cover: the unbounded fixpoint pandas UDF, fuzzy/DST date parsing."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.functions import scalars as SC


CASES = {
    # (input, expected) — semantics of the reference trim_punctuation
    "Title of record ;": "Title of record",
    "Author, name,  ,": "Author, name",  # fixpoint: repeated trailing strips
    "ends with word.": "ends with word",
    "abc 12.": "abc 12.",        # digit before period → period kept
    "[Bracketed title]": "Bracketed title",
    "[half bracket": "half bracket",
    ".": "",
    "": "",
    "plain": "plain",
    "a;:,/ ;:": "a",             # many iterations needed
}


def test_trim_punctuation_udf_matches_reference_semantics(spark):
    df = spark.createDataFrame([Row(i=i, s=s) for i, s in enumerate(CASES)])
    out = df.select("s", SC.trim_punctuation(F.col("s")).alias("t")).collect()
    got = {r["s"]: r["t"] for r in out}
    assert got == CASES


def test_bounded_matches_udf_on_typical_data(spark):
    df = spark.createDataFrame([Row(s=s) for s in CASES])
    both = df.select(
        SC.trim_punctuation(F.col("s")).alias("udf"),
        SC.trim_punctuation_bounded(F.col("s")).alias("bounded"),
    ).collect()
    for r in both:
        assert r["udf"] == r["bounded"]


def test_trim_punctuation_python_fixpoint():
    assert SC.trim_punctuation_py("x ,/;: ,/;: ,/;:") == "x"
    assert SC.trim_punctuation_py(None) is None


def test_parse_date_tz_alias_dst_aware(spark):
    df = spark.createDataFrame([
        Row(s="2024-01-15 12:00:00 US/Eastern"),  # EST: +5h
        Row(s="2024-07-15 12:00:00 US/Eastern"),  # EDT: +4h
        Row(s="2024-07-15 12:00:00"),             # naive: unchanged
    ])
    out = [r["t"].isoformat() for r in
           df.select(SC.parse_date_tz_alias(F.col("s")).alias("t")).collect()]
    assert out == ["2024-01-15T17:00:00", "2024-07-15T16:00:00",
                   "2024-07-15T12:00:00"]


def test_suppress_flag_null_means_suppressed(spark):
    """Missing suppress subfield (NULL) must map to 'Y': the reference's
    `'Y' if value != 'false' else 'N'` treats None as unequal."""
    df = spark.createDataFrame(
        [Row(s="false"), Row(s="true"), Row(s=None)],
        "s: string")
    out = [r["f"] for r in df.select(SC.suppress_flag(F.col("s")).alias("f")).collect()]
    assert out == ["N", "Y", "Y"]


def test_format_oclc_branches(spark):
    df = spark.createDataFrame([
        Row(s="(OCoLC)12345678"), Row(s="(OCoLC)123456789"),
        Row(s="(OCoLC)1234567890"), Row(s=""),
    ])
    out = [r["o"] for r in df.select(SC.format_oclc(F.col("s")).alias("o")).collect()]
    assert out == ["ocm12345678", "ocn123456789", "on1234567890", None]


def test_institution_id_predicate(spark):
    df = spark.createDataFrame([
        Row(s="22123458651"), Row(s="22999990121"),
        Row(s="33123458651"), Row(s="22123459999"),
    ])
    out = [r["m"] for r in
           df.select(SC.is_institution_holding_id(F.col("s")).alias("m")).collect()]
    assert out == [True, True, False, False]
    assert [SC.is_institution_holding_id_py(r["s"])
            for r in df.collect()] == out
    assert not SC.is_institution_holding_id_py(None)
