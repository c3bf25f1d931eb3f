from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo")

SF_SMOKE = "/root/testdata/sf0.001"


def persisted_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the JVM currently holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


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
