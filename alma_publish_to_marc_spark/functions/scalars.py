"""Scalar function library (SURVEY.md §2.8, OP-F1..F19, OP-P5/P8/P10).

Everything here is a pure Column expression except the two functions the
reference implements as unbounded loops / fuzzy parsers — those are
Arrow-batched pandas UDFs (the slow path, used only where Catalyst
expressions genuinely can't express the semantics).

Reference parity citations are on each function; the implementations are
new, Spark-first re-expressions of the documented behavior.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType, TimestampType

# ---------------------------------------------------------------------------
# OP-F1 trim_punctuation — fixpoint regex cleanup
# (behavior of /root/reference/marc/helper.py:8-10,169-186)
# ---------------------------------------------------------------------------
_TRAILING_PUNCT = re.compile(r" *[,\/;:] *$")
_TRAILING_PERIOD = re.compile(r"( *[^\W\d]{3,})\.$")
_TRAILING_BRACKET = re.compile(r"\A\[?([^\[\]]+)\]?\Z")


def _recursive_sub(regex: re.Pattern, repl: str, s: str) -> str:
    while True:
        out = regex.sub(repl, s)
        if out == s:
            return s
        s = out


def trim_punctuation_py(s: str | None) -> str | None:
    if not s:
        return s
    s = _recursive_sub(_TRAILING_PUNCT, "", s)
    s = _recursive_sub(_TRAILING_PERIOD, r"\1", s)
    s = _recursive_sub(_TRAILING_BRACKET, r"\1", s)
    s = s.strip()
    return "" if s == "." else s


# DataType instances (not DDL strings) so importing this module does not
# require an active SparkSession (string return types parse eagerly).
@pandas_udf(StringType())
def trim_punctuation(s: pd.Series) -> pd.Series:
    """Fixpoint loops aren't expressible as Catalyst expressions; this is
    the designated pandas-UDF escape hatch (SURVEY.md §4 item 3)."""
    return s.map(trim_punctuation_py, na_action="ignore")


def trim_punctuation_bounded(col: Column, iterations: int = 8) -> Column:
    """JVM-side bounded unrolling of the same fixpoint — stays inside
    whole-stage codegen. ≥`iterations` trailing junk tokens are not fully
    stripped; in MARC data the fixpoint converges in ≤3 steps, so the
    default is comfortably past convergence while keeping the expression
    tree small. Use the pandas UDF when exact unbounded semantics matter.
    The literals are built once and shared by the unrolled steps: each
    literal is a driver→JVM call, and frame build time is spent on them."""
    punct, period = F.lit(r" *[,/;:] *$"), F.lit(r"( *[^\W\d]{3,})\.$")
    empty, group1 = F.lit(""), F.lit(r"$1")
    for _ in range(iterations):
        col = F.regexp_replace(col, punct, empty)
    for _ in range(iterations):
        col = F.regexp_replace(col, period, group1)
    col = F.regexp_replace(col, r"^\[?([^\[\]]+)\]?$", r"$1")
    col = F.trim(col)
    return F.when(col == ".", empty).otherwise(col)


# ---------------------------------------------------------------------------
# OP-F3 format_oclc (/root/reference/alma_publish_to_database.py:200-208)
# ---------------------------------------------------------------------------
def format_oclc(col: Column) -> Column:
    digits = F.regexp_replace(col, r"\D", "")
    return (
        F.when(col.isNull() | (col == ""), F.lit(None).cast("string"))
        .when(F.length(digits) <= 8, F.concat(F.lit("ocm"), digits))
        .when(F.length(digits) == 9, F.concat(F.lit("ocn"), digits))
        .otherwise(F.concat(F.lit("on"), digits))
    )


# OP-F4 format_number_dashes (alma_publish_to_database.py:210-213)
def format_number_dashes(col: Column) -> Column:
    return F.when(col.isNull() | (col == ""), F.lit(None).cast("string")) \
            .otherwise(F.regexp_replace(col, r"[^0-9-]", ""))


# OP-F5 rm_ws (alma_publish_to_database.py:270-272)
def rm_ws(col: Column) -> Column:
    return F.regexp_replace(col, " +", " ")


# OP-P10 presence / null-normalization (alma_publish_to_database.py:273-276)
def presence(col: Column) -> Column:
    return F.nullif(col, F.lit(""))


# OP-F2 remove_prefix / remove_suffix (alma_publish_parser.py:241-249)
def remove_prefix(col: Column, prefix: str) -> Column:
    esc = re.escape(prefix)
    return F.regexp_replace(col, f"^{esc}", "")


def remove_suffix(col: Column, suffix: str) -> Column:
    esc = re.escape(suffix)
    return F.regexp_replace(col, f"{esc}$", "")


# OP-P5 suppress flag (alma_publish_to_database.py:145,243)
def suppress_flag(col: Column) -> Column:
    """Reference computes ``'Y' if value != 'false' else 'N'`` where a
    *missing* suppress subfield (None) compares unequal and therefore yields
    'Y' (suppressed). NULL-safe so missing input suppresses, not publishes."""
    return F.when(col.isNull() | (col != "false"), F.lit("Y")).otherwise(F.lit("N"))


# OP-P8 prefix-match classifier (marc/helper.py:132-142)
def is_oclc_number(col: Column) -> Column:
    low = F.lower(col)
    return low.startswith("(ocolc)") | low.startswith("oc")


# ---------------------------------------------------------------------------
# OP-F6 date parsing with timezone-alias normalization
# (behavior of marc/helper.py:161-166: 'US/Eastern' → America/New_York)
# ---------------------------------------------------------------------------
def parse_date_tz_alias(col: Column) -> Column:
    """JVM-side path for the dominant fixed format. The reference's
    dateutil fuzzy parse accepts arbitrary formats; that long tail goes
    through :func:`parse_date_fuzzy` below."""
    cleaned = F.trim(F.regexp_replace(col, r"US/Eastern", ""))
    naive = F.to_timestamp(cleaned, "yyyy-MM-dd HH:mm:ss")
    # alias carries America/New_York semantics; reference resolves via
    # tzinfos (marc/helper.py:163-165)
    shifted = F.to_utc_timestamp(naive, "America/New_York")
    return F.when(col.contains("US/Eastern"), shifted).otherwise(naive)


@pandas_udf(TimestampType())
def parse_date_fuzzy(s: pd.Series) -> pd.Series:
    """Arrow-batched dateutil fallback for genuinely fuzzy inputs."""
    try:
        from dateutil.parser import parse as du_parse
        from dateutil.tz import gettz

        tzinfos = {"EST": gettz("America/New_York")}

        def one(v):
            if not v:
                return None
            return du_parse(v.replace("US/Eastern", "EST"), tzinfos=tzinfos)

        return s.map(one, na_action="ignore")
    except ImportError:  # dateutil absent: fixed-format fallback
        return pd.to_datetime(s, errors="coerce")


# OP-F7 truncate (marc/helper.py:44)
def truncate254(col: Column) -> Column:
    return F.substring(col, 1, 254)


# OP-F9/F10 JSON path extraction (alma_publish_to_database.py:278-302;
# README.md:65) — thin wrappers so call sites read like the reference
def json_value(col: Column, path: str) -> Column:
    return F.get_json_object(col, path)


def json_value_default(col: Column, path: str, default: str) -> Column:
    return F.coalesce(F.get_json_object(col, path), F.lit(default))


# OP-F11 XPath (README.md:74) — Spark SQL xpath built-ins
def xpath_first(col: Column, path: str) -> Column:
    return F.xpath_string(col, F.lit(path))


# OP-P4 institution-id predicate (alma_publish_parser.py:18-19,191-195)
INSTITUTION_SUFFIXES = ("8651", "0521", "0541", "1021", "0951", "0121")
INSTITUTION_SUFFIX_RE = "(" + "|".join(INSTITUTION_SUFFIXES) + ")$"


def is_institution_holding_id(col: Column) -> Column:
    return col.startswith("22") & col.rlike(INSTITUTION_SUFFIX_RE)


def is_institution_holding_id_py(v: str | None) -> bool:
    return bool(v) and v.startswith("22") and v.endswith(INSTITUTION_SUFFIXES)
