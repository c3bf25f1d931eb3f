"""End-to-end publish→warehouse pipeline — the engine's equivalent of
the reference's `alma_publish_to_database.main()` (SURVEY.md §3.1),
as one composed DataFrame program:

read files → split (1→3 entities + errors) → extract briefs → serialize
MARC payloads → location broadcast lookup → versioned temporal merge
into the parquet warehouse → publish-driven anti-join deletes + delete
manifests, with CDC history → run counters.

The reference's thread pool, per-thread connections, and per-bib commits
all disappear: file parallelism is split scheduling, connections are
per-partition sinks (or plain parquet writes locally), and atomicity is
per-table overwrite (MERGE on Delta).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import marc as M
from ..functions.scalars import (format_number_dashes, format_oclc,
                                 parse_date_tz_alias, presence, rm_ws,
                                 suppress_flag)
from ..operators import upsert as U
from ..sources import publish as P
from ..tables import release
from .publish_split import split_publish

WAREHOUSE_TABLES = ("bib_brief", "holding_brief", "item", "bib_part",
                    "deleted_record", "errors")


def extract_bib_brief(bibs: DataFrame, batch_ts) -> DataFrame:
    """bib_brief columns from the nested bib record
    (store_bib_marc, alma_publish_to_database.py:139-198)."""
    fields = F.col("fields")
    dates = M.extract_system_dates(fields, "BIB")
    isbns = M.extract_isbns(fields)
    issns = M.extract_issns(fields)
    oclcs = M.extract_oclcs(fields)
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
        F.try_element_at(issns, F.lit(1)).alias("issn"),
        F.try_element_at(isbns, F.lit(1)).alias("isbn"),
        F.try_element_at(oclcs, F.lit(1)).alias("oclc_number"),
        M.extract_voyager_or_sierra_id(fields).alias("voyager_bib_id"),
        suppress_flag(M.subfields_as_string(fields, "BIB", "a"))
            .alias("suppress"),
        F.col("holding_ids"),
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )


def extract_holding_brief(holdings: DataFrame, location: DataFrame | None,
                          batch_ts) -> DataFrame:
    """holding_brief columns (store_holding_marc,
    alma_publish_to_database.py:236-268) with the OP-J1 broadcast
    location lookup on (library_code=852$b, code=852$c)."""
    fields = F.col("fields")
    dates = M.extract_system_dates(fields, "HLD")
    # paired extraction: both codes must come from the SAME 852 (the
    # reference skips fields carrying only one of the two)
    libloc = M.extract_library_location(fields)
    lib = libloc["library_code"]
    loc = libloc["location_code"]
    out = holdings.select(
        "holding_id", "mms_id",
        M.extract_call_number(fields).alias("display_call_number"),
        parse_date_tz_alias(dates["create_raw"]).alias("system_create_date_time"),
        parse_date_tz_alias(dates["update_raw"]).alias("system_update_date_time"),
        M.first_fixed_field(F.col("control_fields"), "008").alias("field008"),
        suppress_flag(M.subfields_as_string(fields, "HLD", "a"))
            .alias("suppress"),
        M.extract_voyager_or_sierra_id(fields).alias("voyager_holding_id"),
        lib.alias("library_code"),
        loc.alias("location_code"),
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )
    if location is not None:
        dim = location.select(F.col("id").alias("location_id"),
                              F.col("library_code"),
                              F.col("code").alias("location_code"))
        out = out.join(F.broadcast(dim),
                       ["library_code", "location_code"], "left")
    else:
        out = out.withColumn("location_id", F.lit(None).cast("long"))
    return out


def extract_items(items: DataFrame, batch_ts) -> DataFrame:
    """item-table columns from the typed item struct (store_item_json,
    alma_publish_to_database.py:278-329)."""
    return items.select(
        "pid", "holding_id", "mms_id",
        presence(F.col("barcode")).alias("barcode"),
        rm_ws(presence(F.col("description"))).alias("description"),
        presence(F.col("enumeration_a")).alias("item_enum"),
        presence(F.col("chronology_i")).alias("chron"),
        presence(F.col("physical_material_type")).alias("material_type"),
        presence(F.col("pieces")).alias("pieces"),
        presence(F.col("copy_id")).alias("copy_id"),
        presence(F.col("policy")).alias("policy"),
        presence(F.col("inventory_number")).alias("voyager_item_id"),
        F.coalesce(presence(F.col("base_status")), F.lit("1"))
            .alias("status_code"),
        presence(F.col("process_type")).alias("process_type"),
        F.lit(1).alias("sequence_number"),
        parse_date_tz_alias(presence(F.col("creation_date")))
            .alias("system_create_date_time"),
        parse_date_tz_alias(presence(F.col("modification_date")))
            .alias("system_update_date_time"),
        parse_date_tz_alias(presence(F.col("inventory_date")))
            .alias("inventory_date_time"),
        F.col("in_temp_location"),
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )


def extract_bib_parts(bibs: DataFrame) -> DataFrame:
    """bib_part host↔constituent edges (store_constituent_units,
    alma_publish_to_database.py:216-221): the first $w of each 774 whose
    value starts with the bib prefix '99' and ends with an institution
    suffix. The PK (mms_id, part_mms_id) + ON CONFLICT DO NOTHING in the
    reference dedups — dropDuplicates is the batch equivalent."""
    from ..functions.scalars import INSTITUTION_SUFFIX_RE as suffix_re
    w_firsts = F.transform(
        M.fields_with_tag(F.col("fields"), "774"),
        lambda f: F.try_element_at(M.subfield_values(f, "w"), F.lit(1)))
    parts = F.filter(
        w_firsts,
        lambda v: v.isNotNull() & v.startswith("99") & v.rlike(suffix_re))
    return (bibs.select("mms_id", F.explode(parts).alias("part_mms_id"))
            .dropDuplicates(["mms_id", "part_mms_id"]))


def _read_table(spark: SparkSession, warehouse_dir: str, name: str,
                template: DataFrame) -> DataFrame:
    path = os.path.join(warehouse_dir, name)
    try:
        stored = spark.read.parquet(path)
    except Exception:
        return template.limit(0)
    # Schema evolution: a warehouse written by an older engine version
    # may lack columns added since (e.g. holding_brief gained
    # voyager_holding_id), carry a column whose type was since widened,
    # or carry columns since dropped. Align fully to the template —
    # missing columns become typed nulls, present columns are cast to
    # the template's type, stale extras are dropped — so the merge plan
    # always resolves against exactly the template schema (the
    # reference's ALTER TABLE migration path, done lazily at read time).
    have = set(stored.columns)
    aligned = [
        (F.col(f.name).cast(f.dataType) if f.name in have
         else F.lit(None).cast(f.dataType)).alias(f.name)
        for f in template.schema.fields
    ]
    return stored.select(aligned)


def _stage_table(df: DataFrame, warehouse_dir: str, name: str) -> None:
    """Phase 1 of the rewrite: materialize the merged table NEXT TO the
    current one. Every merge plan lazily reads the tables it replaces
    (and other tables' plans may reference this one), so nothing may
    overwrite a source path until ALL staged writes have completed."""
    df.write.mode("overwrite").parquet(
        os.path.join(warehouse_dir, name + "._staged"))


def _swap_table(spark: SparkSession, warehouse_dir: str, name: str) -> None:
    """Phase 2: staged → final (reads only the staged copy)."""
    import shutil

    path = os.path.join(warehouse_dir, name)
    tmp = path + "._staged"
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
    shutil.rmtree(tmp, ignore_errors=True)


def run_publish_pipeline(spark: SparkSession, landing_dir: str,
                         warehouse_dir: str, batch_ts,
                         location: DataFrame | None = None) -> dict[str, int]:
    """One publish run. Returns the run counters (OP-A1)."""
    from .. import metrics

    records = P.read_publish_records(spark, landing_dir)
    out = split_publish(records)

    bibs = extract_bib_brief(out["bibs"], batch_ts)
    holdings = extract_holding_brief(out["holdings"], location, batch_ts)
    items = extract_items(out["items"], batch_ts)

    # merge each entity (SRC-11/12): latest-wins on system update time,
    # falling back to the batch timestamp when records carry none
    def ts_col(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_ts", F.coalesce(F.col("system_update_date_time"),
                              F.col("batch_ts"))).drop("batch_ts")

    stored_b = _read_table(spark, warehouse_dir, "bib_brief",
                           ts_col(bibs).withColumn("create_date_time", F.col("_ts"))
                           .withColumn("update_date_time", F.col("_ts"))
                           .withColumn("version", F.lit(1).cast("long")))
    merged_b = U.merge_upsert(stored_b, ts_col(bibs), ["mms_id"], "_ts")

    stored_h = _read_table(spark, warehouse_dir, "holding_brief",
                           ts_col(holdings).withColumn("create_date_time", F.col("_ts"))
                           .withColumn("update_date_time", F.col("_ts"))
                           .withColumn("version", F.lit(1).cast("long")))
    stored_i = _read_table(spark, warehouse_dir, "item",
                           ts_col(items).withColumn("create_date_time", F.col("_ts"))
                           .withColumn("update_date_time", F.col("_ts"))
                           .withColumn("version", F.lit(1).cast("long")))

    # publish-driven stale-holding deletes (OP-J2) BEFORE the merge,
    # cascading to the stale holdings' items (the reference's FK
    # ON DELETE CASCADE, ddl/data_sync_db.sql:422-427)
    stale = U.stale_holdings_for_published_bibs(
        stored_h, out["bibs"], out["holdings"])
    surviving_h, stored_i, hist_stale = U.cascade_delete_holdings(
        stored_h, stored_i, stale.select("holding_id"))
    merged_h = U.merge_upsert(surviving_h, ts_col(holdings),
                              ["holding_id"], "_ts")

    # OP-J3: items stored under a republished holding but absent from
    # the incoming publish are deleted (alma_publish_to_database.py:238-241)
    stale_items = (stored_i
                   .join(out["holdings"].select("holding_id").dropDuplicates(),
                         "holding_id", "left_semi")
                   .join(items.select("pid").dropDuplicates(),
                         "pid", "left_anti"))
    stored_i, hist_items = U.delete_with_history(
        stored_i, stale_items.select("pid"), "pid", "item")
    merged_i = U.merge_upsert(stored_i, ts_col(items), ["pid"], "_ts")
    hist_h = hist_stale.unionByName(hist_items)

    # delete manifests (SRC-6) cascade holding→item (OP-ST6)
    deletes = P.read_delete_manifests(spark, landing_dir)
    merged_b, hist_bib = U.delete_with_history(
        merged_b, deletes.select(F.col("mms_id")).where(F.col("mms_id").isNotNull()),
        "mms_id", "bib")
    doomed_h = deletes.select("holding_id").where(F.col("holding_id").isNotNull())
    merged_h, merged_i, hist_cascade = U.cascade_delete_holdings(
        merged_h, merged_i, doomed_h)

    history = (hist_h.unionByName(hist_bib).unionByName(hist_cascade)
               .withColumn("create_date_time",
                           F.lit(batch_ts).cast("timestamp_ntz")))

    # bib_part: wholesale replace per published bib (the reference
    # deletes every published mms_id's edges, then re-inserts; no FK, so
    # delete manifests do NOT cascade here — data_sync_db.sql:363-364)
    parts = extract_bib_parts(out["bibs"])
    stored_p = _read_table(spark, warehouse_dir, "bib_part", parts)
    merged_p = (stored_p
                .join(out["bibs"].select("mms_id").dropDuplicates(),
                      "mms_id", "left_anti")
                .unionByName(parts))

    # stage everything (reads originals), then swap — see _stage_table
    _stage_table(merged_b, warehouse_dir, "bib_brief")
    _stage_table(merged_h, warehouse_dir, "holding_brief")
    _stage_table(merged_i, warehouse_dir, "item")
    _stage_table(merged_p, warehouse_dir, "bib_part")
    history.write.mode("append").parquet(
        os.path.join(warehouse_dir, "deleted_record"))
    out["errors"].write.mode("append").parquet(
        os.path.join(warehouse_dir, "errors"))
    for name in ("bib_brief", "holding_brief", "item", "bib_part"):
        _swap_table(spark, warehouse_dir, name)

    counters = metrics.run_counters(out, records)
    counters["cnt_deletes"] = deletes.count()
    release()  # the split's persisted rows have served every consumer
    return counters


def list_record_ids(spark: SparkSession, path: str) -> DataFrame:
    """ids_from_files analog (`ids_from_files.py`): every 001/mms_id in
    a publish drop with its source file."""
    return (P.read_publish_records(spark, path)
            .select("mms_id", "source_file"))


def list_warehouse_ids(spark: SparkSession, warehouse_dir: str,
                       table: str = "bib_brief",
                       key: str = "mms_id") -> DataFrame:
    """ids_from_database analog (`ids_from_database.py`)."""
    return (spark.read.parquet(os.path.join(warehouse_dir, table))
            .select(key).orderBy(key))
