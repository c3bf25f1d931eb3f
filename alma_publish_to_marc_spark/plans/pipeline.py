"""End-to-end publish→warehouse pipeline — the engine's equivalent of
the reference's `alma_publish_to_database.main()` (SURVEY.md §3.1),
as one composed DataFrame program:

one Arrow stage per file: parse, split (1→3 entities + errors) and
walk each bib and holding for its raw brief strings
(publish_split_fast.file_split_rows) → the briefs' scalar finishing on
the JVM (`extract_*`: punctuation trim, date parse, voyager id,
suppress flag; every regex and date rule of functions/marc.py stays
here) → location broadcast lookup → versioned temporal merge, where each
delete tags the rows it removes (OP-ST6) → staged tables, whose untagged
rows become the warehouse and tagged rows the CDC history → run counters.
No nested MARC field array reaches the split rows, shuffles or merges.

The reference's thread pool, per-thread connections, and per-bib commits
all disappear: file parallelism is split scheduling, and connections are
per-partition sinks (or plain parquet writes locally). Each table is
staged, then overwritten (MERGE on Delta). That overwrite is not atomic:
Spark deletes `name/` before it writes, and a run that dies inside a swap
is not yet recovered.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import marc as M
from ..functions.scalars import (INSTITUTION_SUFFIX_RE, parse_date_tz_alias,
                                 presence, rm_ws, suppress_flag,
                                 trim_punctuation_bounded, truncate254)
from ..operators import relational as R
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


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of `path`: I/O on any filesystem Spark reads."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _read_table(spark: SparkSession, warehouse_dir: str, name: str,
                template: DataFrame) -> DataFrame:
    path = os.path.join(warehouse_dir, name)
    # only a table not written yet reads as empty: an unreadable one
    # must fail the run, not be overwritten with the drop's rows alone
    fs, jpath = _hadoop_path(spark, path)
    if not fs.exists(jpath):
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
    """Phase 2: write the final table (the staged rows no delete tagged)
    from a plan that reads only the staged copy, then drop the copy."""
    path = os.path.join(warehouse_dir, name)
    U.live_rows(staged).write.mode("overwrite").parquet(path)
    fs, jpath = _hadoop_path(staged.sparkSession, path + "._staged")
    fs.delete(jpath, True)


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

    # every delete tags the rows it removes (OP-ST6); the swaps keep the
    # untagged rows of the staged tables and the history reads the tagged
    # ones. Delete manifests (SRC-6) apply after the upserts, cascading
    # holding→item; persisted for three tags and the counter.
    deletes = persist(P.read_delete_manifests(spark, landing_dir))
    merged_b = U.tag_deletes(
        U.merge_upsert(read_stored("bib_brief", bibs), ts_col(bibs),
                       ["mms_id"], "_ts"), deletes, "mms_id", "bib")

    # publish-driven stale holdings (OP-J2) are absent from the drop, so
    # the merge passes them through to their tag
    stored_h = read_stored("holding_brief", holdings)
    stale = U.stale_holdings_for_published_bibs(
        stored_h, out["bibs"], out["holdings"]).select("holding_id")
    merged_h = U.tag_deletes(
        U.merge_upsert(stored_h, ts_col(holdings), ["holding_id"], "_ts"),
        stale.unionByName(deletes.select("holding_id")), "holding_id",
        "holding")

    # stale holdings' items (FK ON DELETE CASCADE, data_sync_db.sql:422-427)
    # and OP-J3 items (under a republished holding, absent from the drop;
    # alma_publish_to_database.py:238-241) are tagged BEFORE the merge,
    # which inserts anew an item moved off a stale holding
    stored_i = read_stored("item", items)
    stale_items = R.anti_join_deletes(
        R.semi_join(stored_i, out["holdings"], ["holding_id"]), items, ["pid"])
    tagged_i = U.tag_deletes(
        U.tag_deletes(stored_i, stale, "holding_id", "item"),
        stale_items, "pid", "item")
    merged_i = U.tag_deletes(
        U.merge_upsert(tagged_i, ts_col(items), ["pid"], "_ts"),
        deletes, "holding_id", "item")

    # bib_part: wholesale replace per published bib (the reference
    # deletes every published mms_id's edges, then re-inserts; no FK, so
    # delete manifests do NOT cascade here — data_sync_db.sql:363-364)
    parts = extract_bib_parts(out["bibs"])
    merged_p = R.anti_join_deletes(
        _read_table(spark, warehouse_dir, "bib_part", parts), out["bibs"],
        ["mms_id"]).unionByName(parts)

    # stage every merge (reads originals) — see _stage_table
    staged_b = _stage_table(merged_b, warehouse_dir, "bib_brief")
    staged_h = _stage_table(merged_h, warehouse_dir, "holding_brief")
    staged_i = _stage_table(merged_i, warehouse_dir, "item")
    staged_p = _stage_table(merged_p, warehouse_dir, "bib_part")

    history = (U.history_rows(staged_b, "mms_id")
               .unionByName(U.history_rows(staged_h, "holding_id"))
               .unionByName(U.history_rows(staged_i, "pid"))
               .withColumn("create_date_time",
                           F.lit(batch_ts).cast("timestamp_ntz")))
    history.write.mode("append").parquet(
        os.path.join(warehouse_dir, "deleted_record"))
    out["errors"].write.mode("append").parquet(
        os.path.join(warehouse_dir, "errors"))
    for name, staged in (("bib_brief", staged_b), ("holding_brief", staged_h),
                         ("item", staged_i), ("bib_part", staged_p)):
        _swap_table(staged, warehouse_dir, name)

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
