from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMOKE = "/root/testdata/sf0.001"


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM currently holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def jobs_launched(spark, fn) -> list[int]:
    """Ids of the Spark jobs that ``fn()`` launches from this thread."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # the status tracker is fed by the asynchronous listener bus: drain it
    # so a job that already ran is not missed
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    from alma_publish_to_marc_spark.session import get_spark

    spark = get_spark("tests", cpus=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    from alma_publish_to_marc_spark.tables import TABLE_NAMES

    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
