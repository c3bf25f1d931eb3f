"""Oracle-checked domain queries: the publish split (OP-U3/J12/F18/P11/F8)
exercised at driver scale.

Nested publish records are synthesized from the TPC-H stand-ins
(customer→bib, orders→holdings, lineitem→items — FIXTURES.md §6) with
dual-009 control groups, institution-suffixed ids, relocated 852s and
ITM fields; then the REAL `split_publish` runs. The DuckDB oracle
reconstructs the expected outputs relationally — if the split's
positional zip, synthesis, relocation, or item typing drifts, values
mismatch."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import fan_out, load
from .publish_split import split_publish

_SUFFIX = "8651"
_LEADER = "00000nx  a22000001n 4500"


def _synth_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out the NARROW driving scan (c_custkey, c_name — a few bytes
    # per row), not the SYNTHESIZED frame: the nested control_fields/
    # fields payload (every holding + item struct) is orders of
    # magnitude wider, and a one-task scan would also serialize the
    # synthesis projection. With the exchange below the broadcast join,
    # the payload is built in parallel and reaches split_rows' Arrow
    # stage without a reshuffle. At scale this is the usual fan_out
    # no-op.
    customer = fan_out(load(spark, sf_dir, "customer"), "c_custkey")
    orders = load(spark, sf_dir, "orders")
    lineitem = load(spark, sf_dir, "lineitem")

    items_per_order = (
        lineitem.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_list(F.struct(
                "l_linenumber", "l_partkey", "l_quantity"))).alias("its"))
    )
    holdings_per_cust = (
        orders.join(items_per_order,
                    orders["o_orderkey"] == items_per_order["l_orderkey"],
                    "left")
        .groupBy("o_custkey").agg(
            F.sort_array(F.collect_list(F.struct(
                "o_orderkey", "o_orderstatus", "its"))).alias("hs"))
    )

    def s(code, value):
        return F.struct(F.lit(code).alias("code"), value.alias("value"))

    def cf(tag, data):
        return F.struct(F.lit(tag).alias("tag"), data.alias("data"))

    def dfield(tag, subs):
        return F.struct(F.lit(tag).alias("tag"), F.lit(" ").alias("ind1"),
                        F.lit(" ").alias("ind2"), subs.alias("subfields"))

    def hid(h):
        return F.concat(F.lit("22"), h["o_orderkey"].cast("string"),
                        F.lit(_SUFFIX))

    def pid(h, it):
        return F.concat(F.lit("23"), h["o_orderkey"].cast("string"),
                        F.lit("-"), it["l_linenumber"].cast("string"),
                        F.lit(_SUFFIX))

    mms = F.concat(F.lit("99"), F.col("c_custkey").cast("string"),
                   F.lit(_SUFFIX))
    hs = F.coalesce(F.col("hs"), F.array().cast(
        "array<struct<o_orderkey:bigint,o_orderstatus:string,"
        "its:array<struct<l_linenumber:int,l_partkey:bigint,l_quantity:double>>>>"))

    # control fields: bib 001+005, then one dual-009 group per holding:
    # [009(original id = orderkey), 005, 003, 009(leader)]
    control = F.concat(
        F.array(cf("001", mms), cf("005", F.lit("20240101120000.0"))),
        F.flatten(F.transform(hs, lambda h: F.array(
            cf("009", h["o_orderkey"].cast("string")),
            cf("005", F.lit("20240102120000.0")),
            cf("003", F.concat(F.lit("stat-"), h["o_orderstatus"])),
            cf("009", F.lit(_LEADER)),
        ))),
    )
    fields = F.concat(
        F.array(dfield("245", F.array(s("a", F.col("c_name"))))),
        F.transform(hs, lambda h: dfield("852", F.array(
            s("8", hid(h)), s("b", F.lit("LIB")),
            s("h", F.concat(F.lit("CALL-"), h["o_orderkey"].cast("string")))))),
        F.flatten(F.transform(hs, lambda h: F.transform(
            F.coalesce(h["its"], F.array().cast(
                "array<struct<l_linenumber:int,l_partkey:bigint,"
                "l_quantity:double>>")),
            lambda it: dfield("ITM", F.array(
                s("0", hid(h)), s("2", pid(h, it)),
                s("1", it["l_partkey"].cast("string")),
                s("h", F.lit("LIB")), s("s", F.lit("LOC")),
                s("i", F.lit("LIB")),
                s("t", F.when(it["l_linenumber"] % 2 == 0,
                              F.lit("TEMP")).otherwise(F.lit("LOC"))),
                s("e", it["l_quantity"].cast("int").cast("string")),
            ))))),
    )
    return (customer.join(holdings_per_cust,
                          customer["c_custkey"] == holdings_per_cust["o_custkey"],
                          "left")
            .select(mms.alias("mms_id"),
                    F.lit("00000cam a2200000 a 4500").alias("leader"),
                    control.alias("control_fields"),
                    fields.alias("fields"),
                    F.lit("synthetic.xml").alias("source_file")))


def _split(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return split_publish(_synth_records(spark, sf_dir))


def _bibs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import marc as M

    bibs = _split(spark, sf_dir)["bibs"]
    return bibs.select(
        "mms_id",
        M.extract_title(F.col("fields")).alias("title"),
        F.size("holding_ids").alias("n_holdings"),
        F.size("control_fields").alias("n_bib_control_fields"),
    )


_BIBS_SQL = f"""
SELECT '99' || CAST(c_custkey AS VARCHAR) || '{_SUFFIX}' AS mms_id,
       c_name AS title,
       CAST(coalesce(o.cnt, 0) AS INT) AS n_holdings,
       2 AS n_bib_control_fields
FROM customer c
LEFT JOIN (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey) o
  ON c.c_custkey = o.o_custkey
"""


def _holdings(spark: SparkSession, sf_dir: str) -> DataFrame:
    holdings = _split(spark, sf_dir)["holdings"]
    first035 = F.try_element_at(
        F.filter(F.col("fields"), lambda f: f["tag"] == "035"), F.lit(1))
    return holdings.select(
        "holding_id", "mms_id", "leader",
        F.try_element_at(first035["subfields"], F.lit(1))["value"]
         .alias("provenance"),
        F.size("control_fields").alias("n_control_fields"),
    )


# 035 provenance appears unless the original id (the orderkey string)
# itself looks like an Alma holding id ('22…' + institution suffix) or
# has ≥9 digits — replicate the reference predicate exactly.
_HOLDINGS_SQL = f"""
SELECT '22' || ok || '{_SUFFIX}' AS holding_id,
       '99' || CAST(o_custkey AS VARCHAR) || '{_SUFFIX}' AS mms_id,
       '{_LEADER}' AS leader,
       CASE WHEN (ok LIKE '22%' AND regexp_matches(ok, '(8651|0521|0541|1021|0951|0121)$'))
                 OR length(ok) >= 9
            THEN NULL
            ELSE '(CtY)' || ok || '-yaledb-Voyager' END AS provenance,
       -- 001,004,005,008 = 4 control fields (one 007-less dual-009 group)
       4 AS n_control_fields
FROM (SELECT CAST(o_orderkey AS VARCHAR) AS ok, o_custkey FROM orders)
"""


def _items(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = _split(spark, sf_dir)["items"]
    return items.select("pid", "holding_id", "mms_id", "barcode",
                        "enumeration_a", "in_temp_location")


_ITEMS_SQL = f"""
SELECT '23' || CAST(o.o_orderkey AS VARCHAR) || '-' ||
           CAST(l.l_linenumber AS VARCHAR) || '{_SUFFIX}' AS pid,
       '22' || CAST(o.o_orderkey AS VARCHAR) || '{_SUFFIX}' AS holding_id,
       '99' || CAST(o.o_custkey AS VARCHAR) || '{_SUFFIX}' AS mms_id,
       CAST(l.l_partkey AS VARCHAR) AS barcode,
       CAST(CAST(l.l_quantity AS INT) AS VARCHAR) AS enumeration_a,
       (l.l_linenumber % 2 = 0) AS in_temp_location
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""


QUERIES = {
    "publish_split_bibs": (_bibs, _BIBS_SQL),
    "publish_split_holdings": (_holdings, _HOLDINGS_SQL),
    "publish_split_items": (_items, _ITEMS_SQL),
}
