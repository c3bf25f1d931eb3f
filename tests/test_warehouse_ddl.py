"""SRC-18: the catalog bootstrap creates all 19 warehouse tables,
re-runs idempotently, and the tables accept typed inserts."""

from __future__ import annotations

import pytest

from alma_publish_to_marc_spark.warehouse_ddl import (
    WAREHOUSE_TABLES, bootstrap_catalog, cluster_key, ddl_statements)

from .conftest import SF_SMOKE, jobs_launched

EXPECTED_TABLES = {
    "bib_brief", "bib_marc", "bib_marc_xml", "bib_part", "circ_desk",
    "code_table_value", "deleted_record", "holding_brief", "holding_marc",
    "item", "item_base_status", "item_data", "library", "location",
    "location_circ_desk", "record_set", "record_update", "external_id",
    "request_event", "user_details",
}


def test_declared_inventory_matches_reference_ddl():
    # 19 CREATE TABLE statements + user_details in data_sync_db.sql
    assert set(WAREHOUSE_TABLES) == EXPECTED_TABLES
    for t, (cols, key) in WAREHOUSE_TABLES.items():
        names = [n for n, _ in cols]
        assert len(names) == len(set(names)), f"dup column in {t}"
        assert all(k in names for k in key), f"cluster key not a column: {t}"


def test_bootstrap_creates_and_is_idempotent(spark, tmp_path):
    loc = str(tmp_path / "wh")
    created = bootstrap_catalog(spark, "ddl_test", location=loc)
    assert set(created) >= EXPECTED_TABLES
    # idempotent re-run (the reference's init is re-runnable too)
    bootstrap_catalog(spark, "ddl_test", location=loc)

    spark.sql("INSERT INTO ddl_test.bib_part VALUES ('99a', '99b')")
    assert spark.sql("SELECT * FROM ddl_test.bib_part").count() == 1
    # typed schema round-trips
    item_cols = dict(WAREHOUSE_TABLES["item"][0])
    got = {f.name: f.dataType.simpleString()
           for f in spark.table("ddl_test.item").schema}
    assert got == item_cols
    spark.sql("DROP DATABASE ddl_test CASCADE")


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """The 100 TB payoff of shared bucket keys: item ⋈ item_base_status
    ⋈ item_data on pid plans with NO Exchange — bucketed scans feed the
    sort-merge join directly."""
    loc = str(tmp_path / "bwh")
    bootstrap_catalog(spark, "bkt_test", location=loc, buckets=4)
    spark.sql("""
        INSERT INTO bkt_test.item (pid, holding_id, barcode, sequence_number)
        SELECT CAST(id AS STRING), CAST(id % 100 AS STRING),
               CAST(id + 7000 AS STRING), CAST(id % 3 AS INT)
        FROM range(1000)""")
    spark.sql("""
        INSERT INTO bkt_test.item_base_status (pid, status_code)
        SELECT CAST(id AS STRING), CAST(id % 2 AS STRING) FROM range(1000)""")
    spark.sql("""
        INSERT INTO bkt_test.item_data (pid, data)
        SELECT CAST(id AS STRING), '{}' FROM range(1000)""")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.sql("""
            SELECT i.pid, s.status_code, d.data
            FROM bkt_test.item i
            JOIN bkt_test.item_base_status s ON i.pid = s.pid
            JOIN bkt_test.item_data d ON i.pid = d.pid""")
        plan = joined._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            joined._jdf.queryExecution(), "formatted")
        assert "Exchange" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP DATABASE bkt_test CASCADE")


def test_cluster_keys_align_big_tables():
    # the three big pid-keyed tables share a bucket key → co-located join
    assert cluster_key("item") == cluster_key("item_base_status") \
        == cluster_key("item_data") == ["pid"]
    assert len(ddl_statements()) == len(WAREHOUSE_TABLES) + 1


def test_partitioned_layout_prunes_scan(spark, tmp_path):
    """The 100 TB layout story: a fact table written partitioned by its
    coarse key is read with partition pruning — the filtered scan's
    PartitionFilters carry the predicate and non-matching partition
    directories are never listed in the plan's selected partitions."""
    import pyspark.sql.functions as F

    from alma_publish_to_marc_spark.tables import load

    path = str(tmp_path / "events_by_type")
    ev = load(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)

    df = (spark.read.parquet(path)
          .where(F.col("event_type") == "click")
          .select("event_id", "user_id"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted")
    # the predicate must be INSIDE the PartitionFilters bracket — a plan
    # with empty PartitionFilters plus a post-scan Filter must fail here
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "event_type" in part_filters, plan
    # correctness: pruned read equals filtered full read
    full = ev.where(F.col("event_type") == "click").count()
    assert df.count() == full


def test_bucketed_item_info_join_only_shuffles_the_aggregate(spark):
    """The registered bench headliner: pid joins consume the bucketed
    layout, so the ONLY hashpartitioning exchange is the final
    status_code aggregate."""
    from alma_publish_to_marc_spark.plans import warehouse_bench as WB

    df = WB.bucketed_item_info_join(spark, "/root/testdata/sf0.001")
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert plan.count("SortMergeJoin") >= 2, plan
    rows = df.collect()
    assert rows and sum(r["n_items"] for r in rows) > 0


def test_second_bucketed_call_launches_no_job(spark):
    """Once the bucketed tables are current, building the headliner's
    frame is a catalog lookup plus footer reads: no Spark job."""
    from alma_publish_to_marc_spark.plans import warehouse_bench as WB

    WB.bucketed_item_info_join(spark, SF_SMOKE)
    assert jobs_launched(
        spark, lambda: WB.bucketed_item_info_join(spark, SF_SMOKE)) == []


def test_bucketed_tables_rebuilt_when_orders_row_count_changes(spark, tmp_path):
    """A different dataset under the same sf name (a changed orders row
    count) rebuilds the bucketed tables instead of reusing them."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from alma_publish_to_marc_spark.plans import warehouse_bench as WB

    sf = tmp_path / "bucketed_rebuild_sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/lineitem.parquet", sf)
    orders = pq.read_table(f"{SF_SMOKE}/orders.parquet")
    line_keys = pq.read_table(f"{SF_SMOKE}/lineitem.parquet",
                              columns=["l_orderkey"])["l_orderkey"]
    db = WB._db_name(str(sf))
    try:
        for n in (100, 60):
            subset = orders.slice(0, n)
            pq.write_table(subset, str(sf / "orders.parquet"))
            want = pc.sum(pc.is_in(subset["o_orderkey"], line_keys)).as_py()
            rows = WB.bucketed_item_info_join(spark, str(sf)).collect()
            assert sum(r["n_items"] for r in rows) == want
    finally:
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
