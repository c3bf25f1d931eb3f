"""Whole-table backfill migrations (SURVEY.md §2 migration analogs).

The reference ships two one-off migrations that stream `item_data.data`
JSON through a server-side cursor and issue row-at-a-time UPDATEs:

- `/root/reference/utilities/db/migrations/add_item_policy.py:28-48` —
  extract ``item_data.policy.value``; when non-empty, set item.policy.
- `/root/reference/utilities/db/migrations/update_item_temp_locations.py:
  44-60` — when ``holding_data.in_temp_location`` and a temp library
  code are present, resolve (temp_library, temp_location) against the
  location table (the reference loads it into a driver-side dict) and
  set item.temp_location_id to the hit or NULL.

Spark-first, each becomes ONE declarative pass: a primary-key left join
between the table and the JSON source plus a conditional column rewrite,
written through the pipeline's stage-and-swap (not atomic: a crash inside
the swap is not yet recovered). At 100 TB
the pid⋈pid join is a co-partitioned shuffle (both sides keyed by the
primary key — bucketed tables make it shuffle-free), the location dim is
a broadcast (it IS driver-dict-sized: the reference materializes it in
memory), and nothing round-trips the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

_POLICY_PATH = "$.item_data.policy.value"


def backfill_item_policy(item: DataFrame, item_json: DataFrame,
                         json_col: str = "data",
                         key: str = "pid") -> DataFrame:
    """add_item_policy as a single join+project: rows whose JSON carries
    a non-empty policy get it; everyone else keeps their current value
    (the reference only UPDATEs `if policy:`). Adds `updated` so callers
    (and the oracle) can audit which rows the migration touched."""
    new = item_json.select(
        F.col(key),
        F.get_json_object(F.col(json_col), _POLICY_PATH).alias("_policy_new"))
    apply = F.col("_policy_new").isNotNull() & (F.col("_policy_new") != "")
    return (item.join(new, key, "left")
            .withColumn("updated", F.coalesce(apply, F.lit(False)))
            .withColumn("policy", F.when(F.col("updated"),
                                         F.col("_policy_new"))
                                   .otherwise(F.col("policy")))
            .drop("_policy_new"))


def backfill_temp_locations(item: DataFrame, item_json: DataFrame,
                            location: DataFrame,
                            json_col: str = "data",
                            key: str = "pid") -> DataFrame:
    """update_item_temp_locations as join+broadcast-lookup+project.

    Faithful to the reference's quirks: the update fires whenever
    ``in_temp_location`` is true AND a temp *library* code is present
    (its guard tests the library code twice, never the location code),
    and a lookup miss still UPDATEs — to NULL. The driver-side
    ``location_id_dict`` becomes a broadcast hash join on
    (library_code, code)."""
    data = F.col(json_col)
    in_temp = F.get_json_object(data, "$.holding_data.in_temp_location") == "true"
    lib = F.get_json_object(data, "$.holding_data.temp_library.value")
    loc = F.get_json_object(data, "$.holding_data.temp_location.value")
    upd = (item_json
           .select(F.col(key), in_temp.alias("_in_temp"),
                   lib.alias("_lib"), loc.alias("_loc"))
           .where(F.col("_in_temp") & F.col("_lib").isNotNull()))
    dim = location.select(F.col("id").alias("_loc_id"),
                          F.col("library_code").alias("_lib"),
                          F.col("code").alias("_loc"))
    resolved = (upd.join(F.broadcast(dim), ["_lib", "_loc"], "left")
                .select(F.col(key), F.col("_loc_id"),
                        F.lit(True).alias("updated")))
    return (item.join(resolved, key, "left")
            .withColumn("updated", F.coalesce(F.col("updated"), F.lit(False)))
            .withColumn("temp_location_id",
                        F.when(F.col("updated"), F.col("_loc_id"))
                         .otherwise(F.col("temp_location_id")))
            .drop("_loc_id"))


def run_backfill(spark: SparkSession, warehouse_dir: str, table: str,
                 transform) -> None:
    """Run a whole-table migration through the pipeline's stage-and-swap:
    stage the rewritten table next to the original (the lazy plan still
    reads it), then overwrite the original from the staged copy. Same
    discipline as run_publish_pipeline — no path is overwritten while a
    live plan references it. The overwrite deletes the table before it
    writes, so a crash inside the swap is not yet recovered."""
    from .pipeline import _stage_table, _swap_table

    current = spark.read.parquet(os.path.join(warehouse_dir, table))
    _swap_table(_stage_table(transform(current), warehouse_dir, table),
                warehouse_dir, table)


# --------------------------------------------------------------------------
# Oracled queries: both engines synthesize the same item/item_data/location
# stand-ins from the driver tables, then run the migration semantics.
# --------------------------------------------------------------------------
def _policy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    o = F.col("o_orderkey")
    item = orders.select(
        o.alias("pid"),
        F.when(o % 7 == 0, F.lit("LEGACY")).otherwise(F.lit(None))
         .cast("string").alias("policy"))
    item_json = orders.select(
        o.alias("pid"),
        F.when(o % 3 == 0,
               F.concat(F.lit('{"item_data": {"policy": {"value": "'),
                        F.lower("o_orderpriority"), F.lit('"}}}')))
         .when(o % 3 == 1, F.lit('{"item_data": {"policy": {"value": ""}}}'))
         .otherwise(F.lit('{"item_data": {}}')).alias("data"))
    return backfill_item_policy(item, item_json)


_POLICY_SQL = """
WITH item AS (
    SELECT o_orderkey AS pid,
           CASE WHEN o_orderkey % 7 = 0 THEN 'LEGACY' END AS policy
    FROM orders
),
j AS (
    SELECT o_orderkey AS pid,
           CASE WHEN o_orderkey % 3 = 0 THEN
                    '{"item_data": {"policy": {"value": "'
                    || lower(o_orderpriority) || '"}}}'
                WHEN o_orderkey % 3 = 1 THEN
                    '{"item_data": {"policy": {"value": ""}}}'
                ELSE '{"item_data": {}}' END AS data
    FROM orders
),
x AS (
    SELECT i.pid, i.policy,
           json_extract_string(j.data, '$.item_data.policy.value') AS p_new
    FROM item i LEFT JOIN j USING (pid)
)
SELECT pid,
       CASE WHEN coalesce(p_new, '') <> '' THEN p_new ELSE policy END AS policy,
       coalesce(p_new, '') <> '' AS updated
FROM x
"""


def _temp_loc_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    nation = load(spark, sf_dir, "nation")
    o = F.col("o_orderkey")
    item = orders.select(
        o.alias("pid"),
        F.when(o % 10 == 0, F.lit(999).cast("long"))
         .otherwise(F.lit(None).cast("long")).alias("temp_location_id"))
    lib = F.concat(F.lit("LIB"), (o % 5).cast("string"))
    loc = F.concat(F.lit("LOC"), (o % 30).cast("string"))
    item_json = orders.select(
        o.alias("pid"),
        F.when((o % 4 == 0) & (o % 20 != 0),
               F.concat(F.lit('{"holding_data": {"in_temp_location": true, '
                              '"temp_library": {"value": "'), lib,
                        F.lit('"}, "temp_location": {"value": "'), loc,
                        F.lit('"}}}')))
         .when(o % 20 == 0,
               F.lit('{"holding_data": {"in_temp_location": true}}'))
         .otherwise(F.lit('{"holding_data": {"in_temp_location": false}}'))
         .alias("data"))
    location = nation.select(
        F.col("n_nationkey").alias("id"),
        F.concat(F.lit("LIB"), (F.col("n_nationkey") % 5).cast("string"))
         .alias("library_code"),
        F.concat(F.lit("LOC"), F.col("n_nationkey").cast("string"))
         .alias("code"))
    return backfill_temp_locations(item, item_json, location)


_TEMP_LOC_SQL = """
WITH item AS (
    SELECT o_orderkey AS pid,
           CASE WHEN o_orderkey % 10 = 0 THEN CAST(999 AS BIGINT) END
               AS temp_location_id
    FROM orders
),
j AS (
    SELECT o_orderkey AS pid,
           CASE WHEN o_orderkey % 4 = 0 AND o_orderkey % 20 <> 0 THEN
                    '{"holding_data": {"in_temp_location": true, '
                    || '"temp_library": {"value": "LIB'
                    || CAST(o_orderkey % 5 AS VARCHAR)
                    || '"}, "temp_location": {"value": "LOC'
                    || CAST(o_orderkey % 30 AS VARCHAR) || '"}}}'
                WHEN o_orderkey % 20 = 0 THEN
                    '{"holding_data": {"in_temp_location": true}}'
                ELSE '{"holding_data": {"in_temp_location": false}}'
           END AS data
    FROM orders
),
location AS (
    SELECT n_nationkey AS id,
           'LIB' || CAST(n_nationkey % 5 AS VARCHAR) AS library_code,
           'LOC' || CAST(n_nationkey AS VARCHAR) AS code
    FROM nation
),
upd AS (
    SELECT j.pid, l.id AS loc_id
    FROM j
    LEFT JOIN location l
      ON json_extract_string(j.data, '$.holding_data.temp_library.value')
             = l.library_code
     AND json_extract_string(j.data, '$.holding_data.temp_location.value')
             = l.code
    WHERE json_extract_string(j.data, '$.holding_data.in_temp_location')
              = 'true'
      AND json_extract_string(j.data, '$.holding_data.temp_library.value')
              IS NOT NULL
)
SELECT i.pid,
       CASE WHEN u.pid IS NOT NULL THEN u.loc_id
            ELSE i.temp_location_id END AS temp_location_id,
       u.pid IS NOT NULL AS updated
FROM item i LEFT JOIN upd u ON i.pid = u.pid
"""


QUERIES = {
    "backfill_item_policy": (_policy_query, _POLICY_SQL),
    "backfill_temp_locations": (_temp_loc_query, _TEMP_LOC_SQL),
}
