"""Bucketed-warehouse join elimination, proven on real data.

``warehouse_ddl`` declares the 100 TB layout: the big pid-keyed tables
are CLUSTERED BY the same key into the same bucket count, so the
item_info probe-side joins never exchange (the reference's B-tree keys,
``ddl/data_sync_db.sql:393-415``, become co-located buckets).
``tests/test_warehouse_ddl.py`` proves the plan on 1k synthetic rows;
this module proves it as a BENCH HEADLINER on scale-factor data: the
three satellites are materialized bucketed from orders/lineitem once
per sf, and the registered query joins them with NO pid exchange —
the only shuffle in the plan is the final group-by. Compare
``multiway_join_revenue`` (the unbucketed cousin): its join stage
shuffles both fact sides every run; here that cost was paid once at
write time, the steady-state read is exchange-free.

Bench protocol note: the bucketed build happens on the first call for
a given sf (bench.py runs each headliner twice and reports the min, so
the recorded number is the steady-state join, exactly like a resident
warehouse). A later call only looks up the catalog and reads parquet
footers to confirm the build is current, so building its frame launches
no Spark job."""

from __future__ import annotations

import glob
import os
import re
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load

BUCKETS = 16


def _db_name(sf_dir: str) -> str:
    return "bench_bucketed_" + re.sub(r"[^0-9a-zA-Z]+", "_",
                                      sf_dir.rstrip("/").rsplit("/", 1)[-1])


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize item / item_base_status / item_data (pid-keyed,
    bucketed + sorted by pid, shared bucket count) from the sf tables.
    Idempotent per sf: rebuilt only when a table is missing or the
    source row count changed (a different dataset under the same name).
    The check launches no Spark job: catalog lookups plus parquet footer
    row counts of the orders file and the bucketed item files.
    """
    db = _db_name(sf_dir)
    # pin the location inside the repo: the default warehouse dir is
    # cwd-relative, and a driver-owned session may run from anywhere
    loc = os.path.join(os.path.dirname(os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))), "spark-warehouse", db)
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
    names = ("item", "item_base_status", "item_data")
    if all(spark.catalog.tableExists(f"{db}.{name}") for name in names):
        n_orders = pq.read_metadata(
            os.path.join(sf_dir, "orders.parquet")).num_rows
        n_items = sum(pq.read_metadata(f).num_rows for f in
                      glob.glob(os.path.join(loc, "item", "*.parquet")))
        if n_items == n_orders:
            return db
    orders = load(spark, sf_dir, "orders")
    item = orders.select(
        F.col("o_orderkey").cast("string").alias("pid"),
        F.col("o_custkey").cast("string").alias("holding_id"),
        (F.col("o_orderkey") + 7000000).cast("string").alias("barcode"))
    status = orders.select(
        F.col("o_orderkey").cast("string").alias("pid"),
        F.col("o_orderstatus").alias("status_code"))
    data = (load(spark, sf_dir, "lineitem")
            .groupBy(F.col("l_orderkey").cast("string").alias("pid"))
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum("l_quantity").alias("sum_qty")))
    for name, df in zip(names, (item, status, data)):
        # bucketing metadata lives in the (session-local) catalog; a new
        # session may find the files of a previous build without the
        # table entry — clear both before writing
        spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
        shutil.rmtree(os.path.join(loc, name), ignore_errors=True)
        (df.write.mode("overwrite")
         .bucketBy(BUCKETS, "pid").sortBy("pid")
         .format("parquet")
         .saveAsTable(f"{db}.{name}"))
    return db


def bucketed_item_info_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """item ⋈ item_base_status ⋈ item_data on pid over the bucketed
    layout, aggregated per status. The merge hint pins sort-merge joins
    (a broadcast would hide what's being measured); because all three
    scans are bucketed by pid into the same bucket count, those joins
    consume the bucketing directly — ``explain_audit`` shows exactly ONE
    hashpartitioning exchange (the status aggregate) and zero exchanges
    under either join. Unbucketed, the same plan shuffles all three
    tables on pid first — at 100 TB that is the whole fact corpus
    moving per query, here it is zero bytes."""
    db = _ensure_bucketed(spark, sf_dir)
    item = spark.table(f"{db}.item")
    status = spark.table(f"{db}.item_base_status").hint("merge")
    data = spark.table(f"{db}.item_data").hint("merge")
    return (item.join(status, "pid").join(data, "pid")
            .groupBy("status_code")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("n_lines").alias("total_lines"),
                 F.round(F.sum("sum_qty"), 2).alias("total_qty")))


_BUCKETED_SQL = """
WITH item AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS pid FROM orders
),
status AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS pid, o_orderstatus AS status_code
    FROM orders
),
data AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS pid,
           count(*) AS n_lines, sum(l_quantity) AS sum_qty
    FROM lineitem GROUP BY 1
)
SELECT s.status_code,
       count(*) AS n_items,
       CAST(sum(d.n_lines) AS BIGINT) AS total_lines,
       round(sum(d.sum_qty), 2) AS total_qty
FROM item i
JOIN status s USING (pid)
JOIN data d USING (pid)
GROUP BY s.status_code
"""


# --------------------------------------------------------------------------
# Z-order layout analysis: multi-dimensional file skipping
# --------------------------------------------------------------------------
Z_BITS = 8            # per-dimension resolution (256 buckets)
Z_FILES = 32
Z_LO, Z_HI = 64, 79   # probe: a 1/16 slice of the bucket space


def _interleave_expr(px: str, py: str) -> str:
    """Morton interleave as arithmetic (identical SQL in both engines):
    bit i of px lands at position 2i, of py at 2i+1."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({px} // {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"(({py} // {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified case for OPTIMIZE ZORDER: lay lineitem out into
    ``Z_FILES`` files two ways — Morton-interleaved (part, supplier)
    z-ranges vs linear part ranges — record per-file min/max zone maps,
    and report how many files a single-dimension probe must scan under
    each layout. Linear wins its own dimension (1/16 of files) but
    degrades to a full scan on the other; z-order pays ~sqrt on both —
    the multi-dimensional-pruning tradeoff every lakehouse table with
    two query dimensions faces at 100 TB.

    Determinism: bucket ids are exact integer ``div`` of key·256 by the
    broadcast max+1; the interleave is pure integer arithmetic; zone
    maps are min/max aggregates. Scale: one scan computes both
    layouts' file ids scan-side; the zone-map build is ONE map-side-
    combinable aggregation over the unioned tagging (64 groups), and
    the probe evaluation runs on the 64-row stats frame. The real
    rewrite this models is ``repartitionByRange(z)`` + sortWithin —
    same z expression, shuffle paid once at write time.
    """
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    maxes = F.broadcast(li.agg(
        (F.max("l_partkey") + 1).alias("pm"),
        (F.max("l_suppkey") + 1).alias("sm")))
    px = F.expr(f"l_partkey * {1 << Z_BITS} div pm")
    py = F.expr(f"l_suppkey * {1 << Z_BITS} div sm")
    based = li.crossJoin(maxes).select(px.alias("px"), py.alias("py"))
    z_span = (1 << (2 * Z_BITS)) // Z_FILES
    lin_span = (1 << Z_BITS) // Z_FILES
    z_expr = _interleave_expr("px", "py").replace("//", " div ")
    tagged = (based.select(F.lit("zorder").alias("layout"),
                           F.expr(f"({z_expr}) div {z_span}")
                            .alias("file_id"), "px", "py")
              .unionAll(based.select(F.lit("linear_part").alias("layout"),
                                     F.expr(f"px div {lin_span}")
                                      .alias("file_id"), "px", "py")))
    stats = (tagged.groupBy("layout", "file_id")
             .agg(F.min("px").alias("min_px"), F.max("px").alias("max_px"),
                  F.min("py").alias("min_py"), F.max("py").alias("max_py"),
                  F.count(F.lit(1)).alias("n_rows")))
    out = None
    for dim in ("px", "py"):
        hit = ((F.col(f"min_{dim}") <= Z_HI)
               & (F.col(f"max_{dim}") >= Z_LO))
        o = (stats.groupBy("layout")
             .agg(F.count(F.lit(1)).alias("n_files"),
                  F.sum(hit.cast("long")).alias("files_scanned"),
                  F.sum("n_rows").alias("rows_total"),
                  F.sum(F.when(hit, F.col("n_rows")).otherwise(0))
                   .alias("rows_scanned"))
             .select("layout", F.lit(dim).alias("probe_dim"), "n_files",
                     "files_scanned", "rows_total", "rows_scanned",
                     F.round(F.lit(1.0) - F.col("files_scanned")
                             / F.col("n_files"), 4).alias("pct_skipped")))
        out = o if out is None else out.unionByName(o)
    return out


def _zorder_sql() -> str:
    z_span = (1 << (2 * Z_BITS)) // Z_FILES
    lin_span = (1 << Z_BITS) // Z_FILES
    z = _interleave_expr("px", "py")
    probes = []
    for dim in ("px", "py"):
        hit = f"(min_{dim} <= {Z_HI} AND max_{dim} >= {Z_LO})"
        probes.append(f"""
SELECT layout, '{dim}' AS probe_dim, count(*) AS n_files,
       CAST(sum(CASE WHEN {hit} THEN 1 ELSE 0 END) AS BIGINT)
           AS files_scanned,
       CAST(sum(n_rows) AS BIGINT) AS rows_total,
       CAST(sum(CASE WHEN {hit} THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_scanned,
       round(1.0 - sum(CASE WHEN {hit} THEN 1 ELSE 0 END) / count(*), 4)
           AS pct_skipped
FROM stats GROUP BY layout""")
    return f"""
WITH m AS (SELECT max(l_partkey) + 1 AS pm, max(l_suppkey) + 1 AS sm
           FROM lineitem),
based AS (
    SELECT l_partkey * {1 << Z_BITS} // pm AS px,
           l_suppkey * {1 << Z_BITS} // sm AS py
    FROM lineitem CROSS JOIN m
),
tagged AS (
    SELECT 'zorder' AS layout, {z} // {z_span} AS file_id, px, py FROM based
    UNION ALL
    SELECT 'linear_part' AS layout, px // {lin_span} AS file_id, px, py
    FROM based
),
stats AS (
    SELECT layout, file_id, min(px) AS min_px, max(px) AS max_px,
           min(py) AS min_py, max(py) AS max_py, count(*) AS n_rows
    FROM tagged GROUP BY layout, file_id
)
{" UNION ALL ".join(probes)}
"""


QUERIES = {
    "bucketed_item_info_join": (bucketed_item_info_join, _BUCKETED_SQL),
    "zorder_layout_stats": (zorder_layout_stats, _zorder_sql()),
}


# ---------------------------------------------------------------------------
# Warehouse nightly close: revenue rollup + MoM deltas + anomaly + DQ
# ---------------------------------------------------------------------------
_WC_START, _WC_END = "2000-01-01", "2001-08-01"


def _warehouse_close_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite nightly-close report a warehouse team ships:
    per-nation monthly revenue (star join, dims broadcast), month-over-
    month delta (per-nation lag window), an anomaly flag when |Δ|
    exceeds 2× the trailing average |Δ| (pure integer cross-
    multiplication — no float boundary), and the run's DQ counter
    (orders with no customer match — broadcast into every row). One
    DataFrame, one pass over the fact table: the point is COMPOSITION
    of the engine's families without re-scanning.

    Scale: single fact scan (date filter pushed) → one keyed monthly
    aggregate → nation-partitioned windows on the report-sized frame.
    The orphan-count anti join shares the same scan via the customer
    broadcast. Int64 cents throughout; the only doubles are display
    money via the midpoint-safe _money."""
    from pyspark.sql import Window

    from alma_publish_to_marc_spark.plans.tpch_queries import (_disc_price_e4,
                                                               _money)

    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (load(spark, sf_dir, "customer")
            .join(F.broadcast(nation),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "n_name"))
    orders = (load(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= F.lit(_WC_START).cast("timestamp"))
                     & (F.col("o_orderdate") < F.lit(_WC_END).cast("timestamp")))
              .select("o_orderkey", "o_custkey",
                      (F.year("o_orderdate") * 100
                       + F.month("o_orderdate")).alias("ym")))
    li = (load(spark, sf_dir, "lineitem")
          .select("l_orderkey", _disc_price_e4().alias("rev_e4")))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey, "left"))
    orphans = F.broadcast(
        joined.agg(F.sum(F.when(F.col("n_name").isNull(), 1).otherwise(0))
                   .cast("long").alias("orphan_lines")))
    monthly = (joined.where(F.col("n_name").isNotNull())
               .groupBy("n_name", "ym")
               .agg(F.sum("rev_e4").alias("rev_e4")))
    w = Window.partitionBy("n_name").orderBy("ym")
    with_delta = monthly.select(
        "n_name", "ym", "rev_e4",
        (F.col("rev_e4") - F.lag("rev_e4", 1).over(w)).alias("delta_e4"),
        F.row_number().over(w).alias("rn"))
    trail = (Window.partitionBy("n_name").orderBy("ym")
             .rowsBetween(Window.unboundedPreceding, -1))
    flagged = with_delta.select(
        "n_name", "ym", "rev_e4", "delta_e4",
        F.sum(F.abs(F.coalesce("delta_e4", F.lit(0)))).over(trail)
         .alias("trail_abs"),
        (F.row_number().over(w) - 1).cast("long").alias("n_prior"))
    # |Δ|·n_prior > 2·Σ|prior Δ|  (needs ≥2 prior deltas to arm)
    anom = ((F.col("n_prior") >= 3)
            & (F.abs(F.col("delta_e4")) * (F.col("n_prior") - 1)
               > 2 * F.col("trail_abs")))
    return (flagged.crossJoin(orphans)
            .select("n_name", "ym",
                    _money(F.col("rev_e4")).alias("revenue"),
                    _money(F.coalesce("delta_e4", F.lit(0))).alias("mom_delta"),
                    anom.cast("int").alias("is_anomaly"),
                    "orphan_lines"))


def _wc_sql() -> str:
    from alma_publish_to_marc_spark.plans.tpch_queries import (_SQL_DISC_E4,
                                                               _sql_money)
    return f"""
WITH joined AS (
  SELECT n.n_name,
         CAST(year(o.o_orderdate) * 100 + month(o.o_orderdate) AS INT) AS ym,
         {_SQL_DISC_E4} AS rev_e4
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  LEFT JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '{_WC_START}'
    AND o.o_orderdate <  TIMESTAMP '{_WC_END}'
), orphans AS (
  SELECT CAST(sum(CASE WHEN n_name IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS orphan_lines
  FROM joined
), monthly AS (
  SELECT n_name, ym, CAST(sum(rev_e4) AS BIGINT) AS rev_e4
  FROM joined WHERE n_name IS NOT NULL GROUP BY 1, 2
), deltas AS (
  SELECT n_name, ym, rev_e4,
         rev_e4 - lag(rev_e4) OVER w AS delta_e4,
         CAST(row_number() OVER w - 1 AS BIGINT) AS n_prior
  FROM monthly WINDOW w AS (PARTITION BY n_name ORDER BY ym)
), with_delta AS (
  SELECT n_name, ym, rev_e4, delta_e4, n_prior,
         CAST(sum(abs(COALESCE(delta_e4, 0)))
              OVER (PARTITION BY n_name ORDER BY ym
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              AS BIGINT) AS trail_abs
  FROM deltas
)
SELECT d.n_name, d.ym,
       {_sql_money('d.rev_e4')} AS revenue,
       {_sql_money('COALESCE(d.delta_e4, 0)')} AS mom_delta,
       CAST(CASE WHEN d.n_prior >= 3
                  AND abs(d.delta_e4) * (d.n_prior - 1) > 2 * d.trail_abs
                 THEN 1 ELSE 0 END AS INT) AS is_anomaly,
       o.orphan_lines
FROM with_delta d CROSS JOIN orphans o
"""


QUERIES["warehouse_close_end2end"] = (_warehouse_close_end2end, _wc_sql())
