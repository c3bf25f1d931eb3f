"""End-to-end publish→warehouse pipeline — the engine's equivalent of
the reference's `alma_publish_to_database.main()` (SURVEY.md §3.1),
as one composed DataFrame program:

one Arrow stage per file: parse, split (1→3 entities + errors) and
walk each bib and holding for its raw brief strings
(publish_split_fast.file_split_rows) → the briefs' scalar finishing on
the JVM (`extract_*`: punctuation trim, date parse, voyager id,
suppress flag; every regex and date rule of functions/marc.py stays
here) → location broadcast lookup → versioned temporal merge into the
parquet warehouse → publish-driven anti-join deletes + delete
manifests, with CDC history → run counters. No nested MARC field array
reaches the persisted split rows, the dedup shuffles or the merges.

The reference's thread pool, per-thread connections, and per-bib commits
all disappear: file parallelism is split scheduling, connections are
per-partition sinks (or plain parquet writes locally), and atomicity is
per-table overwrite (MERGE on Delta).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import marc as M
from ..functions.scalars import (INSTITUTION_SUFFIX_RE, parse_date_tz_alias,
                                 presence, rm_ws, suppress_flag,
                                 trim_punctuation_bounded, truncate254)
from ..operators import upsert as U
from ..sources import publish as P
from ..tables import persist, release
from .publish_split_fast import file_split_rows, split_outputs

WAREHOUSE_TABLES = ("bib_brief", "holding_brief", "item", "bib_part",
                    "deleted_record", "errors")


def extract_bib_brief(bibs: DataFrame, batch_ts) -> DataFrame:
    """bib_brief columns (store_bib_marc, alma_publish_to_database.py:
    139-198) from the raw brief strings of the file stage: only the
    scalar finishing of functions/marc.py's rules runs here."""
    return bibs.select(
        "mms_id",
        trim_punctuation_bounded(F.col("title")).alias("title"),
        trim_punctuation_bounded(F.col("author")).alias("author"),
        truncate254(trim_punctuation_bounded(F.col("publication_date")))
            .alias("publication_date"),
        trim_punctuation_bounded(F.col("publication_place"))
            .alias("publication_place"),
        trim_punctuation_bounded(F.col("publisher")).alias("publisher"),
        parse_date_tz_alias(F.col("create_raw")).alias("system_create_date_time"),
        parse_date_tz_alias(F.col("update_raw")).alias("system_update_date_time"),
        "field008", "extent", "material", "leader", "issn", "isbn",
        "oclc_number",
        M.voyager_id(F.col("voyager_035a")).alias("voyager_bib_id"),
        suppress_flag(F.col("suppress_raw")).alias("suppress"),
        "holding_ids",
        F.lit(batch_ts).cast("timestamp_ntz").alias("batch_ts"),
    )


def extract_holding_brief(holdings: DataFrame, location: DataFrame | None,
                          batch_ts) -> DataFrame:
    """holding_brief columns (store_holding_marc,
    alma_publish_to_database.py:236-268) from the raw brief strings,
    with the OP-J1 broadcast location lookup on (library_code=852$b,
    code=852$c); both codes come from the same 852."""
    out = holdings.select(
        "holding_id", "mms_id",
        trim_punctuation_bounded(F.col("call_number"))
            .alias("display_call_number"),
        parse_date_tz_alias(F.col("create_raw")).alias("system_create_date_time"),
        parse_date_tz_alias(F.col("update_raw")).alias("system_update_date_time"),
        "field008",
        suppress_flag(F.col("suppress_raw")).alias("suppress"),
        M.voyager_id(F.col("voyager_035a")).alias("voyager_holding_id"),
        "library_code", "location_code",
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
    part = F.col("part_mms_id")
    return (bibs.select("mms_id", F.explode("part_ids").alias("part_mms_id"))
            .where(part.startswith("99") & part.rlike(INSTITUTION_SUFFIX_RE))
            .dropDuplicates(["mms_id", "part_mms_id"]))


def _read_table(spark: SparkSession, warehouse_dir: str, name: str,
                template: DataFrame) -> DataFrame:
    path = os.path.join(warehouse_dir, name)
    # only a table not written yet reads as empty: an unreadable one
    # must fail the run, not be overwritten with the drop's rows alone
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    if not jpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(jpath):
        return template.limit(0)
    stored = spark.read.parquet(path)
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


def _stage_table(df: DataFrame, warehouse_dir: str, name: str) -> DataFrame:
    """Phase 1 of the rewrite: materialize the merged table NEXT TO the
    current one and return a frame over the staged copy. Every merge plan
    lazily reads the tables it replaces (and other tables' plans may
    reference this one), so nothing may overwrite a source path until ALL
    staged writes have completed."""
    path = os.path.join(warehouse_dir, name + "._staged")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _swap_table(staged: DataFrame, warehouse_dir: str, name: str) -> None:
    """Phase 2: write the final table from a plan that reads only the
    staged copy, then drop the copy."""
    path = os.path.join(warehouse_dir, name)
    staged.write.mode("overwrite").parquet(path)
    shutil.rmtree(path + "._staged", ignore_errors=True)


def run_publish_pipeline(spark: SparkSession, landing_dir: str | list[str],
                         warehouse_dir: str, batch_ts,
                         location: DataFrame | None = None) -> dict[str, int]:
    """One publish run over a landing path (or a list of paths, e.g. one
    publish set's files). Returns the run counters (OP-A1)."""
    from .. import metrics

    out = split_outputs(file_split_rows(spark, landing_dir))

    bibs = extract_bib_brief(out["bibs"], batch_ts)
    holdings = extract_holding_brief(out["holdings"], location, batch_ts)
    items = extract_items(out["items"], batch_ts)

    # merge each entity (SRC-11/12): latest-wins on system update time,
    # falling back to the batch timestamp when records carry none
    def ts_col(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "_ts", F.coalesce(F.col("system_update_date_time"),
                              F.col("batch_ts"))).drop("batch_ts")

    def read_stored(name: str, incoming: DataFrame) -> DataFrame:
        """The stored table, typed as `incoming` plus audit columns."""
        ts = F.col("_ts")
        template = ts_col(incoming).withColumns(
            {"create_date_time": ts, "update_date_time": ts,
             "version": F.lit(1).cast("long")})
        return _read_table(spark, warehouse_dir, name, template)

    stored_b = read_stored("bib_brief", bibs)
    merged_b = U.merge_upsert(stored_b, ts_col(bibs), ["mms_id"], "_ts")

    stored_h = read_stored("holding_brief", holdings)
    stored_i = read_stored("item", items)

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

    # bib_part: wholesale replace per published bib (the reference
    # deletes every published mms_id's edges, then re-inserts; no FK, so
    # delete manifests do NOT cascade here — data_sync_db.sql:363-364)
    parts = extract_bib_parts(out["bibs"])
    stored_p = _read_table(spark, warehouse_dir, "bib_part", parts)
    merged_p = (stored_p
                .join(out["bibs"].select("mms_id").dropDuplicates(),
                      "mms_id", "left_anti")
                .unionByName(parts))

    # stage every merge (reads originals) — see _stage_table
    staged_b = _stage_table(merged_b, warehouse_dir, "bib_brief")
    staged_h = _stage_table(merged_h, warehouse_dir, "holding_brief")
    staged_i = _stage_table(merged_i, warehouse_dir, "item")
    staged_p = _stage_table(merged_p, warehouse_dir, "bib_part")

    # delete manifests (SRC-6) apply after the upserts, to the staged
    # rows, cascading holding→item (OP-ST6); persisted, since the final
    # writes, the history and the counter all read them
    deletes = persist(P.read_delete_manifests(spark, landing_dir))
    final_b, hist_bib = U.delete_with_history(
        staged_b, deletes.select(F.col("mms_id")).where(F.col("mms_id").isNotNull()),
        "mms_id", "bib")
    doomed_h = deletes.select("holding_id").where(F.col("holding_id").isNotNull())
    final_h, final_i, hist_cascade = U.cascade_delete_holdings(
        staged_h, staged_i, doomed_h)

    history = (hist_h.unionByName(hist_bib).unionByName(hist_cascade)
               .withColumn("create_date_time",
                           F.lit(batch_ts).cast("timestamp_ntz")))
    history.write.mode("append").parquet(
        os.path.join(warehouse_dir, "deleted_record"))
    out["errors"].write.mode("append").parquet(
        os.path.join(warehouse_dir, "errors"))
    for name, final in (("bib_brief", final_b), ("holding_brief", final_h),
                        ("item", final_i), ("bib_part", staged_p)):
        _swap_table(final, warehouse_dir, name)

    counters = metrics.run_counters(out)
    counters["cnt_deletes"] = deletes.count()
    release()  # the split rows and deletes have served every consumer
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
