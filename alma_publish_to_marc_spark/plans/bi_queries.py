"""Oracle-checked BI / curation essentials: encoding-quality audit,
hierarchical percent-of-parent report, and the cumulative-new-users
curve.

Small, ubiquitous report shapes every warehouse serves daily — included
so a reference user migrating their dashboard layer finds the exact
idiom (bounded-frame window shares, first-seen cumsum on the day run
table, pure-column text quality scans) already proven against the
oracle gate.

Reference parity note: no counterpart in the reference ETL; extends
SURVEY.md §2's beyond-reference analytics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..epochs import US_PER_DAY, day_col, sql_day
from ..tables import load, persist

QUERIES: dict = {}


# --------------------------------------------------------------------------
# Encoding / mojibake quality audit
# --------------------------------------------------------------------------
def encoding_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source text-encoding health: documents carrying U+FFFD
    replacement characters (the decode-went-wrong marker), C0 control
    characters (tab/newline excluded), and the per-mille control
    density — the ingest gate that catches a producer shipping the
    wrong charset before the corpus absorbs it.

    Determinism: pure column counting (length-difference idiom for
    occurrence counts — identical in both engines); densities are
    integer e3 per character.

    Scale: one scan, one alphabet-bounded aggregation; zero UDFs.
    """
    docs = load(spark, sf_dir, "documents")
    repl = F.lit("�")
    n_repl = F.length("text") - F.length(F.replace(F.col("text"), repl))
    ctrl = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
    n_ctrl = (F.length("text")
              - F.length(F.regexp_replace(F.col("text"), ctrl, "")))
    per_doc = docs.select(
        "source",
        F.length("text").alias("chars"),
        n_repl.alias("n_repl"),
        n_ctrl.alias("n_ctrl"))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.when(F.col("n_repl") > 0, 1).otherwise(0))
                 .alias("docs_with_replacement"),
                 F.sum(F.when(F.col("n_ctrl") > 0, 1).otherwise(0))
                 .alias("docs_with_control"),
                 F.expr("(1000 * sum(n_ctrl)) div greatest(sum(chars), 1)")
                 .alias("ctrl_per_mille"))
            .select("source",
                    F.col("n_docs").cast("long").alias("n_docs"),
                    F.col("docs_with_replacement").cast("long")
                    .alias("docs_with_replacement"),
                    F.col("docs_with_control").cast("long")
                    .alias("docs_with_control"),
                    F.col("ctrl_per_mille").cast("long")
                    .alias("ctrl_per_mille")))


_ENCODING_SQL = """
WITH per_doc AS (
    SELECT source,
           length(text) AS chars,
           length(text) - length(replace(text, chr(65533), '')) AS n_repl,
           length(text) - length(regexp_replace(text,
               '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g')) AS n_ctrl
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_repl > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_replacement,
       CAST(sum(CASE WHEN n_ctrl > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS docs_with_control,
       CAST((1000 * sum(n_ctrl)) // greatest(sum(chars), 1) AS BIGINT)
           AS ctrl_per_mille
FROM per_doc
GROUP BY source
"""


# --------------------------------------------------------------------------
# Hierarchical percent-of-parent report
# --------------------------------------------------------------------------
def hierarchy_share_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent down the region → nation hierarchy: each
    nation's order revenue as a share of its region and of the world —
    the drill-down header row of every BI report, computed with window
    sums over the ALREADY-AGGREGATED 25-row nation frame (never over
    raw orders).

    Determinism: exact cents; shares are integer e4 rationals.

    Scale: orders join customers keyed on custkey (one shuffle), the
    dims broadcast; the share windows run on the bounded nation frame.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    region = load(spark, sf_dir, "region").select(
        "r_regionkey", "r_name")
    per_nation = (orders
                  .join(cust, orders.o_custkey == cust.c_custkey)
                  .join(F.broadcast(nation),
                        F.col("c_nationkey") == F.col("n_nationkey"))
                  .join(F.broadcast(region),
                        F.col("n_regionkey") == F.col("r_regionkey"))
                  .groupBy("r_name", "n_name")
                  .agg(F.sum("cents").alias("cents")))
    return per_nation.select(
        "r_name", "n_name",
        F.col("cents").cast("long").alias("cents"),
        F.expr("(10000 * cents) div sum(cents) over "
               "(partition by r_name)").alias("share_of_region_e4"),
        F.expr("(10000 * cents) div sum(cents) over ()")
        .alias("share_of_world_e4"))


_HIERARCHY_SQL = """
WITH per_nation AS (
    SELECT r.r_name, n.n_name,
           sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT r_name, n_name,
       CAST(cents AS BIGINT) AS cents,
       CAST((10000 * cents) // sum(cents) OVER (PARTITION BY r_name)
            AS BIGINT) AS share_of_region_e4,
       CAST((10000 * cents) // sum(cents) OVER () AS BIGINT)
           AS share_of_world_e4
FROM per_nation
"""


# --------------------------------------------------------------------------
# Cumulative new users by day
# --------------------------------------------------------------------------
def cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The acquisition curve: per day, how many users appear for the
    FIRST time, and the running total of distinct users ever seen —
    computed as first-seen-day per user (one aggregation) followed by
    a cumsum on the bounded day run table, never a running
    count-distinct over raw events.

    Determinism: first-seen is an exact min; the cumsum window runs on
    the day table ordered by day.

    Scale: one user-keyed aggregation + one day-keyed aggregation; the
    ordered window sees only calendar-bounded rows (the run-table
    rule). This is the scalable form of `COUNT(DISTINCT) OVER (ORDER
    BY day)` — which engines either reject or execute quadratically.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", day_col("ts").alias("day"))
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("d0"))
    per_day = first_seen.groupBy("d0").agg(
        F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d0").rowsBetween(Window.unboundedPreceding, 0)
    return (per_day.select(
        F.col("d0").cast("long").alias("day"),
        F.col("new_users").cast("long").alias("new_users"),
        F.sum("new_users").over(w).cast("long").alias("total_users")))


_CUMULATIVE_SQL = f"""
WITH ev AS (
    SELECT user_id, {sql_day('ts')} AS day
    FROM events
),
first_seen AS (SELECT user_id, min(day) AS d0 FROM ev GROUP BY user_id),
per_day AS (SELECT d0, count(*) AS new_users FROM first_seen GROUP BY d0)
SELECT CAST(d0 AS BIGINT) AS day,
       CAST(new_users AS BIGINT) AS new_users,
       CAST(sum(new_users) OVER (ORDER BY d0
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS total_users
FROM per_day
"""


QUERIES["encoding_quality_audit"] = (encoding_quality_audit, _ENCODING_SQL)
QUERIES["hierarchy_share_report"] = (hierarchy_share_report, _HIERARCHY_SQL)
QUERIES["cumulative_new_users"] = (cumulative_new_users, _CUMULATIVE_SQL)


# --------------------------------------------------------------------------
# Heavy-hitter drift between time halves
# --------------------------------------------------------------------------
_HH_TOPK = 8


def heavy_hitter_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K drift report: the most active users of the first and
    second halves of the observation window, full-outer compared —
    who entered the leaderboard, who left, how ranks moved. The
    ops-dashboard twin of the sketch-based heavy hitters
    (misra_gries_heavy_hitters): exact, because the drift REPORT is
    K-bounded even though the counting is corpus-wide.

    Determinism: the half boundary is integer arithmetic on the
    broadcast min/max day; tops are (count DESC, user ASC) total
    orders; ranks assign on the K-row frames.

    Scale: two conditional-count aggregations in ONE scan, each top-K
    via TakeOrdered (distributed heads — never an ordered window over
    the user frame, whose cardinality grows with the corpus); the
    comparison joins two K-row frames.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", day_col("ts").alias("day"))
    span = F.broadcast(ev.agg(
        F.expr("(min(day) + max(day) + 1) div 2").alias("mid")))
    counts = (ev.crossJoin(span)
              .groupBy("user_id")
              .agg(F.sum(F.when(F.col("day") < F.col("mid"), 1)
                         .otherwise(0)).alias("cnt_a"),
                   F.sum(F.when(F.col("day") >= F.col("mid"), 1)
                         .otherwise(0)).alias("cnt_b")))
    # both half-tops read the per-user counts — persist so the events
    # scan runs once (multi-branch rule); the K-row rank windows and
    # the K-row full-outer join are bounded by construction
    counts = persist(counts)

    def top(col):
        t = (counts.select("user_id", F.col(col).alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("user_id").asc())
             .limit(_HH_TOPK))
        w = Window.orderBy(F.col("cnt").desc(), F.col("user_id").asc())
        return t.select("user_id", F.col("cnt").alias(col),
                        F.row_number().over(w).alias(f"rank{col[-2:]}"))

    a, b = top("cnt_a"), top("cnt_b")
    j = a.join(b, "user_id", "full_outer")
    return j.select(
        "user_id",
        F.coalesce("cnt_a", F.lit(0)).cast("long").alias("cnt_a"),
        F.coalesce("cnt_b", F.lit(0)).cast("long").alias("cnt_b"),
        F.coalesce("rank_a", F.lit(-1)).cast("int").alias("rank_a"),
        F.coalesce("rank_b", F.lit(-1)).cast("int").alias("rank_b"),
        F.when(F.col("rank_a").isNull(), "entered")
         .when(F.col("rank_b").isNull(), "exited")
         .otherwise("stayed").alias("status"))


def _hh_drift_sql() -> str:
    return f"""
WITH ev AS (
    SELECT user_id, {sql_day('ts')} AS day FROM events
),
span AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM ev),
counts AS (
    SELECT user_id,
           sum(CASE WHEN day < mid THEN 1 ELSE 0 END) AS cnt_a,
           sum(CASE WHEN day >= mid THEN 1 ELSE 0 END) AS cnt_b
    FROM ev CROSS JOIN span
    GROUP BY user_id
),
top_a AS (
    SELECT user_id, cnt_a,
           row_number() OVER (ORDER BY cnt_a DESC, user_id ASC) AS rank_a
    FROM counts QUALIFY rank_a <= {_HH_TOPK}
),
top_b AS (
    SELECT user_id, cnt_b,
           row_number() OVER (ORDER BY cnt_b DESC, user_id ASC) AS rank_b
    FROM counts QUALIFY rank_b <= {_HH_TOPK}
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       CAST(coalesce(a.cnt_a, 0) AS BIGINT) AS cnt_a,
       CAST(coalesce(b.cnt_b, 0) AS BIGINT) AS cnt_b,
       CAST(coalesce(a.rank_a, -1) AS INT) AS rank_a,
       CAST(coalesce(b.rank_b, -1) AS INT) AS rank_b,
       CASE WHEN a.rank_a IS NULL THEN 'entered'
            WHEN b.rank_b IS NULL THEN 'exited'
            ELSE 'stayed' END AS status
FROM top_a a FULL OUTER JOIN top_b b ON a.user_id = b.user_id
"""


QUERIES["heavy_hitter_drift"] = (heavy_hitter_drift, _hh_drift_sql())
