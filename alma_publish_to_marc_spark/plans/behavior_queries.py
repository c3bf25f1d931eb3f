"""Behavioral / product-analytics operators over the events stream —
the OLAP query family a warehouse serves to analysts on top of the
sync pipeline (funnel conversion, cohort retention, distribution
drift). All pure DataFrame ops with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load, persist


# --------------------------------------------------------------------------
# conversion_funnel: ordered view → click → purchase progression
# --------------------------------------------------------------------------
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: a user converts a stage only if it happens
    STRICTLY AFTER the previous stage's first completion (first view,
    then first click after that view, then first purchase after that
    click). One row: stage populations and step conversion rates.

    Scale: three conditional-min aggregations, each keyed by user_id —
    stage N+1's pass joins the events scan to stage N's per-user
    timestamps (user-keyed, co-partitioned under user bucketing, and
    the per-user frame is one row so AQE broadcasts it at any realistic
    user cardinality « events). No windows, no event reshuffle beyond
    the per-user aggregations."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    s1 = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
         .alias("t_view"))
    s2 = (ev.join(s1, "user_id")
          .groupBy("user_id")
          .agg(F.first("t_view").alias("t_view"),
               F.min(F.when((F.col("event_type") == "click")
                            & (F.col("ts") > F.col("t_view")), F.col("ts")))
                .alias("t_click")))
    s3 = (ev.join(s2, "user_id")
          .groupBy("user_id")
          .agg(F.first("t_view").alias("t_view"),
               F.first("t_click").alias("t_click"),
               F.min(F.when((F.col("event_type") == "purchase")
                            & (F.col("ts") > F.col("t_click")), F.col("ts")))
                .alias("t_purchase")))
    return s3.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
         .cast("long").alias("n_viewed"),
        F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
         .cast("long").alias("n_clicked_after_view"),
        F.sum(F.when(F.col("t_purchase").isNotNull(), 1).otherwise(0))
         .cast("long").alias("n_purchased_after_click"),
        F.round(F.sum(F.when(F.col("t_click").isNotNull(), 1).otherwise(0))
                / F.greatest(
                    F.sum(F.when(F.col("t_view").isNotNull(), 1)
                          .otherwise(0)), F.lit(1)), 4)
         .alias("view_to_click_rate"),
        F.round(F.sum(F.when(F.col("t_purchase").isNotNull(), 1)
                      .otherwise(0))
                / F.greatest(
                    F.sum(F.when(F.col("t_click").isNotNull(), 1)
                          .otherwise(0)), F.lit(1)), 4)
         .alias("click_to_purchase_rate"))


_FUNNEL_SQL = """
WITH s1 AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
    FROM events GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, any_value(s1.t_view) AS t_view,
           min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
                    THEN e.ts END) AS t_click
    FROM events e JOIN s1 USING (user_id)
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, any_value(s2.t_view) AS t_view,
           any_value(s2.t_click) AS t_click,
           min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
                    THEN e.ts END) AS t_purchase
    FROM events e JOIN s2 USING (user_id)
    GROUP BY e.user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_viewed,
       CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_clicked_after_view,
       CAST(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchased_after_click,
       round(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END)
             / greatest(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END),
                        1), 4) AS view_to_click_rate,
       round(sum(CASE WHEN t_purchase IS NOT NULL THEN 1 ELSE 0 END)
             / greatest(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END),
                        1), 4) AS click_to_purchase_rate
FROM s3
"""


# --------------------------------------------------------------------------
# cohort_retention: first-seen-day cohorts × day offset
# --------------------------------------------------------------------------
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort table: users grouped by first-seen day; for each
    (cohort_day, day_offset), how many of that cohort were active —
    the retention curve every growth dashboard plots.

    Scale: first-seen is one user-keyed aggregation; activity is a
    distinct over (user, day) — both map-side combinable — and the
    cohort join is user-keyed. The output is |days|² rows max."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"))
    first = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = ev.distinct()
    joined = (active.join(first, "user_id")
              .select("user_id", "cohort_day",
                      F.datediff("day", "cohort_day").alias("day_offset")))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size"))
    ret = (joined.groupBy("cohort_day", "day_offset")
           .agg(F.countDistinct("user_id").alias("n_active")))
    # day as ISO string: DuckDB DATE surfaces as pandas Timestamp while
    # Spark DATE stays datetime.date — strings compare identically
    return (ret.join(sizes, "cohort_day")
            .select(F.date_format("cohort_day", "yyyy-MM-dd")
                     .alias("cohort_day"),
                    F.col("day_offset").cast("int").alias("day_offset"),
                    "n_active", "cohort_size",
                    F.round(F.col("n_active") / F.col("cohort_size"), 4)
                     .alias("retention_rate")))


_COHORT_SQL = """
WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY user_id),
active AS (SELECT DISTINCT user_id, day FROM ev),
joined AS (
    SELECT a.user_id, f.cohort_day,
           date_diff('day', f.cohort_day, a.day) AS day_offset
    FROM active a JOIN first f USING (user_id)
),
sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM first
          GROUP BY cohort_day),
ret AS (
    SELECT cohort_day, day_offset, count(DISTINCT user_id) AS n_active
    FROM joined GROUP BY cohort_day, day_offset
)
SELECT strftime(r.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(r.day_offset AS INT) AS day_offset,
       r.n_active, s.cohort_size,
       round(r.n_active / s.cohort_size, 4) AS retention_rate
FROM ret r JOIN sizes s USING (cohort_day)
"""


# --------------------------------------------------------------------------
# ks_drift_test: two-sample Kolmogorov–Smirnov statistic per event type
# --------------------------------------------------------------------------
def ks_drift_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift between the first and second half of the
    observation window, per event type: the two-sample KS statistic
    ``max_v |F_early(v) − F_late(v)|`` over the value column — the
    numeric-distribution complement of the categorical KL monitor
    (``event_drift_monitor``).

    Computed exactly: per (type, value) counts in each half, then one
    window pass per type (ordered by value) accumulating both CDFs and
    taking the max gap. Integer counts → the CDF ratios are identical
    cross-engine; the midpoint comes from a 1-row broadcast min/max
    aggregate, never the driver.

    Scale: counts are map-side combined to per-(type, distinct value)
    rows; the window runs over those — bounded by value cardinality,
    not events. At extreme cardinality, quantize values first (the
    histogram operator) and run KS on buckets."""
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = F.broadcast(ev.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")))
    halves = (ev.crossJoin(span)
              .select("event_type", "value",
                      (F.unix_micros(F.col("ts").cast("timestamp"))
                       <= (F.unix_micros(F.col("t0").cast("timestamp"))
                           + F.unix_micros(F.col("t1").cast("timestamp")))
                       / F.lit(2.0)).alias("early")))
    counts = (halves.groupBy("event_type", "value")
              .agg(F.sum(F.when(F.col("early"), 1).otherwise(0))
                    .alias("ca"),
                   F.sum(F.when(~F.col("early"), 1).otherwise(0))
                    .alias("cb")))
    totals = counts.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = (Window.partitionBy("event_type").orderBy("value")
         .rowsBetween(Window.unboundedPreceding, 0))
    gaps = (counts.join(totals, "event_type")
            .withColumn("gap", F.abs(
                F.sum("ca").over(w) / F.col("na")
                - F.sum("cb").over(w) / F.col("nb"))))
    return (gaps.groupBy("event_type")
            .agg(F.round(F.max("gap"), 4).alias("ks_stat"),
                 F.max("na").cast("long").alias("n_early"),
                 F.max("nb").cast("long").alias("n_late")))


_KS_SQL = """
WITH span AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
halves AS (
    SELECT event_type, value,
           epoch_us(e.ts) <= (epoch_us(s.t0) + epoch_us(s.t1)) / 2.0
               AS early
    FROM events e CROSS JOIN span s
),
counts AS (
    SELECT event_type, value,
           sum(CASE WHEN early THEN 1 ELSE 0 END) AS ca,
           sum(CASE WHEN NOT early THEN 1 ELSE 0 END) AS cb
    FROM halves GROUP BY event_type, value
),
totals AS (
    SELECT event_type, sum(ca) AS na, sum(cb) AS nb
    FROM counts GROUP BY event_type
),
gaps AS (
    SELECT c.event_type,
           abs(sum(c.ca) OVER w / t.na - sum(c.cb) OVER w / t.nb) AS gap,
           t.na, t.nb
    FROM counts c JOIN totals t USING (event_type)
    WINDOW w AS (PARTITION BY c.event_type ORDER BY c.value
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, round(max(gap), 4) AS ks_stat,
       CAST(max(na) AS BIGINT) AS n_early,
       CAST(max(nb) AS BIGINT) AS n_late
FROM gaps GROUP BY event_type
"""


# --------------------------------------------------------------------------
# ab_test_ztest: two-proportion z-test on conversion by variant
# --------------------------------------------------------------------------
def ab_test_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B split (variant = user_id parity
    — a deterministic stand-in for an assignment column): per-variant
    user counts and conversion rates (any purchase), plus the pooled
    z-statistic — the readout every experimentation platform computes.
    |z| < 1.96 on this hash-random split is exactly the expected null
    result, which the unit test asserts.

    Scale: one user-keyed conditional aggregation, then two-row
    arithmetic. Nothing beyond the per-user reduce ever shuffles."""
    ev = load(spark, sf_dir, "events") \
        .select("user_id", "event_type", "value")
    per_user = (ev.groupBy("user_id")
                .agg(F.max(F.when((F.col("event_type") == "purchase")
                                  & (F.col("value") > 90), 1)
                           .otherwise(0)).alias("converted"))
                .select(F.pmod("user_id", F.lit(2)).cast("int")
                         .alias("variant"), "converted"))
    stats = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_converted"))
    a = stats.where(F.col("variant") == 0) \
        .select(F.col("n_users").alias("n0"),
                F.col("n_converted").alias("c0"))
    b = stats.where(F.col("variant") == 1) \
        .select(F.col("n_users").alias("n1"),
                F.col("n_converted").alias("c1"))
    j = a.crossJoin(b)
    p0 = F.col("c0") / F.col("n0")
    p1 = F.col("c1") / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(pp * (1 - pp)
                           * (1 / F.col("n0") + 1 / F.col("n1")))
    return j.select(
        "n0", "c0", F.round(p0, 4).alias("rate_a"),
        "n1", "c1", F.round(p1, 4).alias("rate_b"),
        F.round(z, 4).alias("z_stat"))


_AB_SQL = """
WITH per_user AS (
    SELECT user_id % 2 AS variant,
           max(CASE WHEN event_type = 'purchase' AND value > 90
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY user_id
),
stats AS (
    SELECT variant, count(*) AS n_users,
           CAST(sum(converted) AS BIGINT) AS n_converted
    FROM per_user GROUP BY variant
),
a AS (SELECT n_users AS n0, n_converted AS c0 FROM stats WHERE variant = 0),
b AS (SELECT n_users AS n1, n_converted AS c1 FROM stats WHERE variant = 1)
SELECT n0, c0, round(c0 / n0, 4) AS rate_a,
       n1, c1, round(c1 / n1, 4) AS rate_b,
       round((c1 / n1 - c0 / n0)
             / sqrt(((c0 + c1) / (n0 + n1)) * (1 - (c0 + c1) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 4) AS z_stat
FROM a CROSS JOIN b
"""


# --------------------------------------------------------------------------
# event_transition_matrix: first-order Markov transitions per user stream
# --------------------------------------------------------------------------
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user behavior: for each ordered
    (from_type → to_type) pair of CONSECUTIVE events within a user's
    stream, the transition count and conditional probability
    P(to | from) — the sequence-mining readout behind "what do users do
    next" analyses and behavioral anomaly scoring.

    Scale: one window pass (lead over the user-keyed shuffle) and one
    map-side-combined aggregation to |types|² rows; the row-count
    normalization joins two tiny per-type frames."""
    ev = load(spark, sf_dir, "events") \
        .select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("from_type"),
                       F.lead("event_type").over(w).alias("to_type"))
             .where(F.col("to_type").isNotNull()))
    counts = pairs.groupBy("from_type", "to_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    outs = counts.groupBy("from_type").agg(F.sum("n").alias("n_from"))
    return (counts.join(outs, "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n") / F.col("n_from"), 4)
                     .alias("p_transition")))


_TRANSITION_SQL = """
WITH pairs AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, count(*) AS n
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
outs AS (SELECT from_type, sum(n) AS n_from FROM counts GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n,
       round(c.n / o.n_from, 4) AS p_transition
FROM counts c JOIN outs o USING (from_type)
"""


QUERIES = {
    "conversion_funnel": (conversion_funnel, _FUNNEL_SQL),
    "ab_test_ztest": (ab_test_ztest, _AB_SQL),
    "event_transition_matrix": (event_transition_matrix, _TRANSITION_SQL),
    "cohort_retention": (cohort_retention, _COHORT_SQL),
    "ks_drift_test": (ks_drift_test, _KS_SQL),
}


# --------------------------------------------------------------------------
# seasonal_baseline_outliers: seasonality-aware anomaly detection
# --------------------------------------------------------------------------
SB_TOPK = 20


def seasonal_baseline_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: learn a (event_type,
    day-of-week, hour-of-day) baseline mean and surface the top-K
    events by |value − baseline| — the monitoring pass that doesn't
    page you every Monday morning because Mondays are always busy
    (the plain global-fence cousin is ``iqr_outlier_filter``).

    Determinism: dow/hour derive from integer epoch arithmetic
    ((days+4) % 7 — engine dayofweek() conventions DISAGREE, Spark is
    1=Sunday, DuckDB 0=Sunday, so neither is used); baselines are one
    sum/count divide rounded 6; ranking compares the rounded residual
    with event_id tie-break.

    Scale: the baseline table is ≤ |types|·168 rows — broadcast back
    onto the scan, so the residual pass is shuffle-free; one
    map-side-combinable aggregation builds the baselines and the
    top-K is TakeOrdered. At 100 TB this is one scan + one 840-row
    exchange.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value")
    keyed = ev.select(
        "event_id", "event_type", "value",
        ((F.expr("unix_micros(cast(ts as timestamp)) div 86400000000") + 4) % 7).alias("dow"),
        (F.expr("unix_micros(cast(ts as timestamp)) div 3600000000") % 24).alias("hour"))
    base = (keyed.groupBy("event_type", "dow", "hour")
            .agg(F.sum("value").alias("s"), F.count(F.lit(1)).alias("n_in_cell")))
    joined = (keyed.join(F.broadcast(base), ["event_type", "dow", "hour"])
              .select("event_id", "event_type", "dow", "hour", "value",
                      "n_in_cell",
                      F.round(F.col("s") / F.col("n_in_cell"), 6)
                       .alias("baseline")))
    resid = joined.withColumn(
        "residual", F.round(F.col("value") - F.col("baseline"), 6))
    return (resid.orderBy(F.desc(F.round(F.abs("residual"), 6)),
                          F.asc("event_id"))
            .limit(SB_TOPK)
            .select("event_id", "event_type",
                    F.col("dow").cast("int").alias("dow"),
                    F.col("hour").cast("int").alias("hour"),
                    F.round("value", 6).alias("value"),
                    "baseline", "residual",
                    F.col("n_in_cell").cast("long").alias("n_in_cell")))


_SEASONAL_SQL = f"""
WITH keyed AS (
    SELECT event_id, event_type, value,
           (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
           (epoch_us(ts) // 3600000000) % 24 AS hour
    FROM events
),
base AS (
    SELECT event_type, dow, hour, sum(value) AS s, count(*) AS n_in_cell
    FROM keyed GROUP BY 1, 2, 3
)
SELECT event_id, k.event_type, CAST(k.dow AS INT) AS dow,
       CAST(k.hour AS INT) AS hour,
       round(k.value, 6) AS value,
       round(b.s / b.n_in_cell, 6) AS baseline,
       round(k.value - round(b.s / b.n_in_cell, 6), 6) AS residual,
       CAST(b.n_in_cell AS BIGINT) AS n_in_cell
FROM keyed k
JOIN base b ON b.event_type = k.event_type AND b.dow = k.dow
           AND b.hour = k.hour
ORDER BY round(abs(round(k.value - round(b.s / b.n_in_cell, 6), 6)), 6)
         DESC, event_id ASC
LIMIT {SB_TOPK}
"""

QUERIES["seasonal_baseline_outliers"] = (seasonal_baseline_outliers,
                                         _SEASONAL_SQL)


# --------------------------------------------------------------------------
# dp_noised_counts: Laplace-mechanism count release (seeded, auditable)
# --------------------------------------------------------------------------
DP_EPS_STR = "1.0"   # epsilon as a literal both engines parse identically
DP_SEED = "dp1:"


def dp_noised_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy count release: per (event_type, day) event
    counts with Laplace(Δ/ε) noise, Δ=1 (one user-event per cell
    contribution), ε=1 — the mechanism a data clean room applies
    before counts leave the boundary. Noise is DERIVED (inverse-CDF of
    a seeded md5 uniform), so releases are reproducible and auditable
    — and bit-identical in the oracle. The true count rides beside the
    release here for error measurement (the repo's est-vs-exact
    pattern); a production release drops that column.

    Scale: one scan → map-side-combinable (type, day) counts → noise
    is a scalar expression on the aggregate rows. Nothing else moves.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    counts = (ev.select("event_type", day.alias("day_idx"))
              .groupBy("event_type", "day_idx")
              .agg(F.count(F.lit(1)).alias("true_count")))
    h = ("cast(conv(substr(md5(concat('" + DP_SEED + "', event_type, ':',"
         " cast(day_idx as string))), 1, 12), 16, 10) as bigint)")
    u = f"(({h}) + 1) / 281474976710657.0"
    lap = (f"(CASE WHEN {u} < 0.5 THEN ln(2.0 * ({u}))"
           f" ELSE -ln(2.0 * (1.0 - ({u}))) END) / {DP_EPS_STR}")
    return counts.select(
        "event_type", F.col("day_idx").cast("long").alias("day_idx"),
        "true_count",
        F.round(F.col("true_count") + F.expr(lap), 4).alias("dp_count"),
        F.round(F.abs(F.expr(lap)), 4).alias("abs_noise"),
        F.expr(f"cast({DP_EPS_STR} as double)").alias("epsilon"))


def _dp_sql() -> str:
    h = ("CAST('0x' || substr(md5('" + DP_SEED + "' || event_type || ':' ||"
         " CAST(day_idx AS VARCHAR)), 1, 12) AS BIGINT)")
    u = f"(({h}) + 1) / 281474976710657.0"
    lap = (f"(CASE WHEN {u} < 0.5 THEN ln(2.0 * ({u}))"
           f" ELSE -ln(2.0 * (1.0 - ({u}))) END) / {DP_EPS_STR}")
    return f"""
WITH counts AS (
    SELECT event_type,
           epoch_us(ts) // 86400000000 AS day_idx,
           count(*) AS true_count
    FROM events GROUP BY 1, 2
)
SELECT event_type, CAST(day_idx AS BIGINT) AS day_idx, true_count,
       round(true_count + {lap}, 4) AS dp_count,
       round(abs({lap}), 4) AS abs_noise,
       CAST({DP_EPS_STR} AS DOUBLE) AS epsilon
FROM counts
"""


QUERIES["dp_noised_counts"] = (dp_noised_counts, _dp_sql())


# --------------------------------------------------------------------------
# pareto_frontier: distributed 2-D skyline (earliest-and-largest events)
# --------------------------------------------------------------------------
def pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: events not strictly dominated on (earlier ts,
    larger value) — the Pareto-optimal set of a tradeoff query
    ("largest value seen so far" milestones). Implemented the
    DISTRIBUTED way, not one global sort: per-day partitions compute
    their in-day running max (window inside the day key), a tiny
    per-day max table provides the cross-day running max (|days|
    rows), and an event is on the frontier iff it beats both. That
    makes the only data-sized shuffle a hash partition on day —
    the classic two-phase skyline.

    Determinism: values quantized to micro ints; the in-day window is
    RANGE .. 1 PRECEDING on integer micros so same-microsecond events
    never dominate each other, identically in both engines.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "ts", "value")
    t = F.expr("unix_micros(cast(ts as timestamp))")
    vu = F.expr("cast(round(value * 1000000, 0) as bigint)")
    based = ev.select("event_id", t.alias("t"), vu.alias("vu"),
                      F.expr("unix_micros(cast(ts as timestamp))"
                             " div 86400000000").alias("day"))
    daymax = based.groupBy("day").agg(F.max("vu").alias("dmax"))
    from pyspark.sql import Window
    w_days = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    prior = daymax.select("day", F.max("dmax").over(w_days).alias("prev_days_max"))
    w_in = (Window.partitionBy("day").orderBy("t")
            .rangeBetween(Window.unboundedPreceding, -1))
    flagged = (based.join(F.broadcast(prior), "day")
               .select("event_id", "day", "t", "vu",
                       F.greatest(
                           F.max("vu").over(w_in),
                           F.col("prev_days_max")).alias("prev_max")))
    return (flagged
            .where(F.col("prev_max").isNull()
                   | (F.col("vu") > F.col("prev_max")))
            .select("event_id", F.col("day").cast("long").alias("day"),
                    F.col("t").alias("epoch_us"),
                    F.round(F.col("vu") / 1e6, 6).alias("value")))


_PARETO_SQL = """
WITH based AS (
    SELECT event_id, epoch_us(ts) AS t,
           CAST(round(value * 1000000, 0) AS BIGINT) AS vu,
           epoch_us(ts) // 86400000000 AS day
    FROM events
),
daymax AS (SELECT day, max(vu) AS dmax FROM based GROUP BY day),
prior AS (
    SELECT day, max(dmax) OVER (ORDER BY day
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_days_max
    FROM daymax
),
flagged AS (
    SELECT b.event_id, b.day, b.t, b.vu,
           greatest(max(b.vu) OVER (PARTITION BY b.day ORDER BY b.t
                                    RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING),
                    p.prev_days_max) AS prev_max
    FROM based b JOIN prior p USING (day)
)
SELECT event_id, CAST(day AS BIGINT) AS day, t AS epoch_us,
       round(vu / 1e6, 6) AS value
FROM flagged
WHERE prev_max IS NULL OR vu > prev_max
"""

QUERIES["pareto_frontier"] = (pareto_frontier, _PARETO_SQL)


# --------------------------------------------------------------------------
# kfold_balance_audit: leakage-safe fold assignment + stratification audit
# --------------------------------------------------------------------------
KFOLDS = 5


def kfold_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment by key hash (doc_id md5 —
    stable under corpus growth, so a doc NEVER migrates folds between
    runs) with a per-(fold, lang) stratification audit: observed count
    vs the proportional expectation and the chi-square cell
    contribution. The audit a training pipeline runs before trusting
    fold metrics.

    Determinism: folds from the 48-bit md5 hash; expected counts are
    integer rationals rounded once; chi2 cells are one identical float
    expression. Scale: one scan → (fold, lang) counts (25 cells),
    marginals broadcast back onto the cell frame.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    from ..operators.sketches import _h48
    fold = F.pmod(_h48(F.col("doc_id").cast("string"), "fold:"),
                  F.lit(KFOLDS))
    cells = (docs.select(fold.alias("fold"), "lang")
             .groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n")))
    fold_tot = cells.groupBy("fold").agg(F.sum("n").alias("n_fold"))
    lang_tot = cells.groupBy("lang").agg(F.sum("n").alias("n_lang"))
    total = cells.agg(F.sum("n").alias("n_total"))
    exp = F.col("n_fold") * F.col("n_lang") / F.col("n_total")
    return (cells.join(F.broadcast(fold_tot), "fold")
            .join(F.broadcast(lang_tot), "lang")
            .crossJoin(F.broadcast(total))
            .select(F.col("fold").cast("int").alias("fold"), "lang",
                    F.col("n").alias("n_docs"),
                    F.round(exp, 4).alias("expected"),
                    F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 4)
                     .alias("chi2_cell")))


_KFOLD_SQL = f"""
WITH cells AS (
    SELECT CAST('0x' || substr(md5('fold:' || CAST(doc_id AS VARCHAR)),
                1, 12) AS BIGINT) % {KFOLDS} AS fold,
           lang, count(*) AS n
    FROM documents GROUP BY 1, 2
),
ft AS (SELECT fold, sum(n) AS n_fold FROM cells GROUP BY fold),
lt AS (SELECT lang, sum(n) AS n_lang FROM cells GROUP BY lang),
tot AS (SELECT sum(n) AS n_total FROM cells)
SELECT CAST(cells.fold AS INT) AS fold, cells.lang, n AS n_docs,
       round(n_fold * n_lang / n_total, 4) AS expected,
       round((n - n_fold * n_lang / n_total)
             * (n - n_fold * n_lang / n_total)
             / (n_fold * n_lang / n_total), 4) AS chi2_cell
FROM cells JOIN ft ON ft.fold = cells.fold
JOIN lt ON lt.lang = cells.lang
CROSS JOIN tot
"""

QUERIES["kfold_balance_audit"] = (kfold_balance_audit, _KFOLD_SQL)


# --------------------------------------------------------------------------
# sampled_mean_ci: hash-sampled estimate with confidence interval vs truth
# --------------------------------------------------------------------------
SAMPLE_PCT = 10   # deterministic 10% hash sample


def sampled_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregation with error bars: estimate mean(value)
    per event type from a deterministic 10% hash sample, report the
    95% CI from the sample variance, and assert coverage against the
    exact mean computed beside it — the pattern that lets a 100 TB
    scan answer "roughly how big" at 10% of the cost WITH a defensible
    bound, instead of a point guess.

    Determinism: the sample is an md5 predicate (identical membership
    in both engines); sums are micro/milli-quantized exact integers;
    se/CI are one identical float expression rounded.

    Scale: the sample predicate is scan-fused (90% of rows die before
    any shuffle); both branches are map-side-combinable aggregations.
    The exact branch exists for the assertion.
    """
    from ..operators.sketches import _h48

    ev = load(spark, sf_dir, "events").select("event_id", "event_type",
                                              "value")
    vu = F.expr("cast(round(value * 1000000, 0) as bigint)")
    vm = F.expr("cast(round(value * 1000, 0) as bigint)")
    based = ev.select("event_id", "event_type", vu.alias("vu"),
                      vm.alias("vm"),
                      F.pmod(_h48(F.col("event_id").cast("string"), "smp:"),
                             F.lit(100)).alias("h"))
    samp = (based.where(F.col("h") < SAMPLE_PCT)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_s"),
                 F.sum("vu").alias("s_s"),
                 F.sum(F.col("vm") * F.col("vm")).alias("ss_s")))
    exact = (based.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_all"),
                  F.sum("vu").alias("s_all")))
    mean_s = F.col("s_s") / F.col("n_s") / 1e6
    var_s = (F.col("ss_s") / F.col("n_s")
             - (F.col("s_s") / F.col("n_s") / 1000.0)
             * (F.col("s_s") / F.col("n_s") / 1000.0)) / 1e6
    se = F.sqrt(var_s / F.col("n_s"))
    mean_t = F.col("s_all") / F.col("n_all") / 1e6
    return (samp.join(exact, "event_type")
            .select("event_type",
                    F.col("n_s").alias("n_sample"),
                    F.col("n_all").alias("n_total"),
                    F.round(mean_s, 4).alias("est_mean"),
                    F.round(mean_s - 1.96 * se, 4).alias("ci_lo"),
                    F.round(mean_s + 1.96 * se, 4).alias("ci_hi"),
                    F.round(mean_t, 4).alias("exact_mean"),
                    ((F.round(mean_s - 1.96 * se, 4) <= F.round(mean_t, 4))
                     & (F.round(mean_t, 4) <= F.round(mean_s + 1.96 * se, 4)))
                    .cast("int").alias("covered")))


_SAMPLED_CI_SQL = f"""
WITH based AS (
    SELECT event_type,
           CAST(round(value * 1000000, 0) AS BIGINT) AS vu,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm,
           CAST('0x' || substr(md5('smp:' || CAST(event_id AS VARCHAR)),
                1, 12) AS BIGINT) % 100 AS h
    FROM events
),
samp AS (
    SELECT event_type, count(*) AS n_s,
           CAST(sum(vu) AS BIGINT) AS s_s,
           CAST(sum(vm * vm) AS BIGINT) AS ss_s
    FROM based WHERE h < {SAMPLE_PCT} GROUP BY event_type
),
exact AS (
    SELECT event_type, count(*) AS n_all, CAST(sum(vu) AS BIGINT) AS s_all
    FROM based GROUP BY event_type
)
SELECT samp.event_type,
       CAST(n_s AS BIGINT) AS n_sample, CAST(n_all AS BIGINT) AS n_total,
       round(s_s / n_s / 1e6, 4) AS est_mean,
       round(s_s / n_s / 1e6 - 1.96 * sqrt(((ss_s / n_s
             - (s_s / n_s / 1000.0) * (s_s / n_s / 1000.0)) / 1e6) / n_s),
             4) AS ci_lo,
       round(s_s / n_s / 1e6 + 1.96 * sqrt(((ss_s / n_s
             - (s_s / n_s / 1000.0) * (s_s / n_s / 1000.0)) / 1e6) / n_s),
             4) AS ci_hi,
       round(s_all / n_all / 1e6, 4) AS exact_mean,
       CAST(round(s_s / n_s / 1e6 - 1.96 * sqrt(((ss_s / n_s
                - (s_s / n_s / 1000.0) * (s_s / n_s / 1000.0)) / 1e6) / n_s),
                4) <= round(s_all / n_all / 1e6, 4)
            AND round(s_all / n_all / 1e6, 4)
                <= round(s_s / n_s / 1e6 + 1.96 * sqrt(((ss_s / n_s
                   - (s_s / n_s / 1000.0) * (s_s / n_s / 1000.0)) / 1e6)
                   / n_s), 4) AS INT) AS covered
FROM samp JOIN exact ON exact.event_type = samp.event_type
"""

QUERIES["sampled_mean_ci"] = (sampled_mean_ci, _SAMPLED_CI_SQL)


# --------------------------------------------------------------------------
# last_touch_attribution: purchases credited to the latest prior click
# --------------------------------------------------------------------------
ATTR_WINDOW_US = 24 * 3600 * 1000000   # 1-day lookback


def last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: each purchase is credited to the SAME
    user's most recent click within a 1-day lookback — the last-touch
    model, implemented as one pass over the user's timeline with
    ``last(click_id) IGNORE NULLS`` (no per-purchase subquery, no
    self-join blow-up; contrast ``range_interval_join`` which
    enumerates pairs).

    Determinism: the timeline orders by (ts, event_id) so simultaneous
    events resolve identically; the lookback compares integer epoch
    micros. Scale: ONE hash shuffle on user_id drives the whole
    window; output is purchases-only.
    """
    from pyspark.sql import Window

    ev = (load(spark, sf_dir, "events")
          .select("event_id", "user_id", "event_type", "ts",
                  F.expr("unix_micros(cast(ts as timestamp))").alias("t")))
    w = (Window.partitionBy("user_id").orderBy("t", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_t = F.when(F.col("event_type") == "click", F.col("t"))
    attributed = ev.select(
        "event_id", "user_id", "event_type", "t",
        F.last(click_id, ignorenulls=True).over(w).alias("last_click_id"),
        F.last(click_t, ignorenulls=True).over(w).alias("last_click_t"))
    return (attributed.where(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"), "user_id",
                    F.when(F.col("t") - F.col("last_click_t")
                           <= ATTR_WINDOW_US, F.col("last_click_id"))
                     .alias("attributed_click_id"),
                    F.when(F.col("t") - F.col("last_click_t")
                           <= ATTR_WINDOW_US,
                           F.round((F.col("t") - F.col("last_click_t"))
                                   / 60000000.0, 2))
                     .alias("minutes_since_click")))


_LAST_TOUCH_SQL = f"""
WITH tl AS (
    SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_id,
           last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END
                      IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_click_t
    FROM events
)
SELECT event_id AS purchase_id, user_id,
       CASE WHEN t - last_click_t <= {ATTR_WINDOW_US}
            THEN last_click_id END AS attributed_click_id,
       CASE WHEN t - last_click_t <= {ATTR_WINDOW_US}
            THEN round((t - last_click_t) / 60000000.0, 2)
       END AS minutes_since_click
FROM tl WHERE event_type = 'purchase'
"""

QUERIES["last_touch_attribution"] = (last_touch_attribution,
                                     _LAST_TOUCH_SQL)


# --------------------------------------------------------------------------
# winsorized_stats: outlier-robust aggregates via percentile clipping
# --------------------------------------------------------------------------
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p5/p95-clipped) per-type statistics next to the raw
    ones — the robust-aggregation pass that keeps a handful of
    corrupt meters from moving a 100 TB mean. Cutoffs are exact order
    statistics per type (rank = floor(q·(n−1)) + 1, the lower-nearest
    convention) broadcast back onto the scan; clipped values quantize
    to micro ints so both means are exact integer sums divided once.

    Scale: the rank pass is one per-type window (hash shuffle on
    event_type); production swaps it for ``histogram_quantile_sketch``
    cutoffs — same clip step, no sort.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("event_id", "event_type",
                                              "value")
    vu = F.expr("cast(round(value * 1000000, 0) as bigint)")
    based = ev.select("event_id", "event_type", vu.alias("vu"))
    w = Window.partitionBy("event_type").orderBy("vu", "event_id")
    ranked = based.select(
        "event_type", "vu", F.row_number().over(w).alias("rn"))
    counts = based.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    lo_rank = F.expr("cast(floor(0.05 * (n - 1)) as bigint) + 1")
    hi_rank = F.expr("cast(floor(0.95 * (n - 1)) as bigint) + 1")
    cuts = (ranked.join(F.broadcast(counts), "event_type")
            .where((F.col("rn") == lo_rank) | (F.col("rn") == hi_rank))
            .groupBy("event_type")
            .agg(F.min("vu").alias("lo"), F.max("vu").alias("hi")))
    clipped = (based.join(F.broadcast(cuts), "event_type")
               .select("event_type", "vu",
                       F.greatest(F.least(F.col("vu"), F.col("hi")),
                                  F.col("lo")).alias("cv")))
    return (clipped.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.sum("vu") / F.count(F.lit(1)) / 1e6, 4)
                  .alias("raw_mean"),
                 F.round(F.sum("cv") / F.count(F.lit(1)) / 1e6, 4)
                  .alias("winsorized_mean"),
                 F.round(F.min("cv") / 1e6, 4).alias("p05"),
                 F.round(F.max("cv") / 1e6, 4).alias("p95")))


_WINSOR_SQL = """
WITH based AS (
    SELECT event_id, event_type,
           CAST(round(value * 1000000, 0) AS BIGINT) AS vu
    FROM events
),
ranked AS (
    SELECT event_type, vu,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY vu, event_id) AS rn
    FROM based
),
counts AS (SELECT event_type, count(*) AS n FROM based GROUP BY 1),
cuts AS (
    SELECT r.event_type, min(vu) AS lo, max(vu) AS hi
    FROM ranked r JOIN counts c ON c.event_type = r.event_type
    WHERE r.rn = CAST(floor(0.05 * (n - 1)) AS BIGINT) + 1
       OR r.rn = CAST(floor(0.95 * (n - 1)) AS BIGINT) + 1
    GROUP BY r.event_type
),
clipped AS (
    SELECT b.event_type, vu,
           greatest(least(vu, hi), lo) AS cv
    FROM based b JOIN cuts ON cuts.event_type = b.event_type
)
SELECT event_type, count(*) AS n,
       round(sum(vu) / count(*) / 1e6, 4) AS raw_mean,
       round(sum(cv) / count(*) / 1e6, 4) AS winsorized_mean,
       round(min(cv) / 1e6, 4) AS p05,
       round(max(cv) / 1e6, 4) AS p95
FROM clipped GROUP BY event_type
"""

QUERIES["winsorized_stats"] = (winsorized_stats, _WINSOR_SQL)


# --------------------------------------------------------------------------
# cusum_changepoint: per-type mean-shift detection over daily aggregates
# --------------------------------------------------------------------------
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection: per event type, the cumulative sum
    of (daily mean − global mean) walks away from zero when the level
    shifts; the day with the maximum |CUSUM| is the best single
    change-point estimate. Complements ``event_drift_monitor``
    (distribution drift) and ``seasonal_baseline_outliers`` (point
    anomalies) with LEVEL-shift detection.

    Determinism: daily and global means are micro-quantized integer
    sums divided once and re-quantized, so the cumulative sum is exact
    int64; the argmax breaks ties on the earlier day. Scale: one scan
    → (type, day) aggregates; the CUSUM window runs over ~|days| rows
    per type — state bounded by the calendar, not the data.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    vu = F.expr("cast(round(value * 1000000, 0) as bigint)")
    daily = (ev.select("event_type", day.alias("day"), vu.alias("vu"))
             .groupBy("event_type", "day")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("vu").alias("s")))
    # daily mean re-quantized to micro ints: one division, one round
    daily = daily.select(
        "event_type", "day", "n",
        F.expr("cast(round(s / n, 0) as bigint)").alias("day_mean_u"))
    glob = (daily.groupBy("event_type")
            .agg(F.expr("cast(round(sum(cast(day_mean_u as double)) /"
                        " count(*), 0) as bigint)").alias("glob_mean_u")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    walked = (daily.join(F.broadcast(glob), "event_type")
              .select("event_type", "day", "n", "day_mean_u",
                      F.sum(F.col("day_mean_u") - F.col("glob_mean_u"))
                       .over(w).alias("cusum_u")))
    best = (walked.groupBy("event_type")
            .agg(F.min(F.struct((-F.abs(F.col("cusum_u"))).alias("neg"),
                                F.col("day").alias("day"))).alias("b")))
    return (walked.join(best, "event_type")
            .where(F.col("day") == F.col("b.day"))
            .select("event_type",
                    F.col("day").cast("long").alias("changepoint_day"),
                    F.round(F.col("day_mean_u") / 1e6, 4).alias("day_mean"),
                    F.round(F.col("cusum_u") / 1e6, 4).alias("cusum_peak")))


_CUSUM_SQL = """
WITH daily AS (
    SELECT event_type, epoch_us(ts) // 86400000000 AS day,
           count(*) AS n,
           CAST(round(sum(CAST(round(value * 1000000, 0) AS BIGINT)) / n, 0)
                AS BIGINT) AS day_mean_u
    FROM events GROUP BY 1, 2
),
gm AS (
    SELECT event_type,
           CAST(round(sum(CAST(day_mean_u AS DOUBLE)) / count(*), 0)
                AS BIGINT) AS glob_mean_u
    FROM daily GROUP BY 1
),
walked AS (
    SELECT d.event_type, d.day, d.day_mean_u,
           sum(d.day_mean_u - g.glob_mean_u)
               OVER (PARTITION BY d.event_type ORDER BY d.day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum_u
    FROM daily d JOIN gm g ON g.event_type = d.event_type
),
best AS (
    SELECT event_type,
           min(struct_pack(neg := -abs(cusum_u), day := day)).day AS day
    FROM walked GROUP BY event_type
)
SELECT w.event_type, CAST(w.day AS BIGINT) AS changepoint_day,
       round(w.day_mean_u / 1e6, 4) AS day_mean,
       round(w.cusum_u / 1e6, 4) AS cusum_peak
FROM walked w JOIN best b ON b.event_type = w.event_type AND b.day = w.day
"""

QUERIES["cusum_changepoint"] = (cusum_changepoint, _CUSUM_SQL)


# --------------------------------------------------------------------------
# event_sequence_patterns: top event-type trigrams per corpus
# --------------------------------------------------------------------------
SEQ_TOPK = 15


def event_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern mining lite: the most frequent 3-step
    event-type sequences across user timelines (the 3-gram extension
    of ``event_transition_matrix``), with the count of distinct users
    exhibiting each — behavioral motifs for funnel design.

    Scale: one user-keyed window shuffle builds the trigrams (two
    leads in one pass); counts are map-side-combinable; top-k is
    TakeOrdered.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id",
                                              "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (ev.select(
        "user_id",
        F.concat_ws(">", "event_type",
                    F.lead("event_type", 1).over(w),
                    F.lead("event_type", 2).over(w)).alias("pattern"),
        F.lead("event_type", 2).over(w).alias("has3"))
        .where(F.col("has3").isNotNull()))
    return (tri.groupBy("pattern")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("user_id").alias("n_users"))
            .orderBy(F.desc("n_occurrences"), F.asc("pattern"))
            .limit(SEQ_TOPK))


_SEQ_SQL = f"""
WITH tri AS (
    SELECT user_id,
           event_type || '>' ||
           lead(event_type, 1) OVER w || '>' ||
           lead(event_type, 2) OVER w AS pattern,
           lead(event_type, 2) OVER w AS has3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT pattern, count(*) AS n_occurrences,
       count(DISTINCT user_id) AS n_users
FROM tri WHERE has3 IS NOT NULL
GROUP BY pattern
ORDER BY n_occurrences DESC, pattern ASC
LIMIT {SEQ_TOPK}
"""

QUERIES["event_sequence_patterns"] = (event_sequence_patterns, _SEQ_SQL)


# --------------------------------------------------------------------------
# sprt_sequential_test: Wald's sequential probability-ratio test
# --------------------------------------------------------------------------
SPRT_P0_NUM, SPRT_P1_NUM = 50, 60     # H0 p=.50 vs H1 p=.60, percent
SPRT_ALPHA_BOUND = 2_944_439          # ln((1-b)/a)=ln(19) in micro-units
                                      # (a=b=0.05), exact literal
SPRT_HORIZON = 2048                   # deterministic max observations
                                      # walked before declaring
                                      # 'undecided' (both engines)


def sprt_sequential_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT, the sequential alternative to the fixed-horizon
    z-test (``weighted_sample_es``'s A/B cousin): walk the event
    stream in time order treating click-vs-error as Bernoulli
    observations; stop the FIRST time the log-likelihood ratio leaves
    (−A, A). Sequential tests decide in ~half the samples of a fixed
    n — the reason experimentation platforms run them.

    Determinism: the two LLR increments ln(p1/p0), ln((1−p1)/(1−p0))
    quantize once to micro-units, so the walk is an exact int64
    cumulative sum; the stopping row is the min rank where |LLR| ≥ A
    (struct-min idiom). Scale: the walk runs on the DECISION PREFIX
    only — the first ``SPRT_HORIZON`` observations by (ts, event_id),
    taken with a distributed TakeOrdered limit (no global sort
    exchange; VERDICT r06 item 3). The single ordered cumsum —
    inherently sequential — therefore touches a bounded frame (≤ 2048
    rows) no matter how large the stream is; a test still open at the
    horizon reports 'undecided', exactly Wald's truncated-SPRT
    practice. The same horizon constant bounds the oracle.
    """
    from pyspark.sql import Window

    inc_pos = ("cast(round(ln(" + str(SPRT_P1_NUM) + ".0 / "
               + str(SPRT_P0_NUM) + ") * 1000000, 0) as bigint)")
    inc_neg = ("cast(round(ln((100.0 - " + str(SPRT_P1_NUM) + ") / (100.0 - "
               + str(SPRT_P0_NUM) + ")) * 1000000, 0) as bigint)")
    obs = (load(spark, sf_dir, "events")
           .where(F.col("event_type").isin("click", "error"))
           .select("event_id", "ts",
                   F.when(F.col("event_type") == "click",
                          F.expr(inc_pos))
                    .otherwise(F.expr(inc_neg)).alias("inc")))
    head = obs.orderBy("ts", "event_id").limit(SPRT_HORIZON)
    w = Window.orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    walked = head.select(
        "event_id", "ts",
        F.row_number().over(Window.orderBy("ts", "event_id")).alias("n"),
        F.sum("inc").over(w).alias("llr_u"))
    crossed = (walked
               .where(F.abs("llr_u") >= SPRT_ALPHA_BOUND)
               .agg(F.min(F.struct(F.col("n").alias("n"),
                                   F.col("llr_u").alias("llr_u"))).alias("b")))
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    return (crossed.crossJoin(F.broadcast(total))
            .select(F.col("b.n").alias("n_at_decision"),
                    F.col("n_total"),
                    F.round(F.col("b.llr_u") / 1e6, 4).alias("llr"),
                    F.when(F.col("b.llr_u") >= SPRT_ALPHA_BOUND,
                           F.lit("accept_h1"))
                     .when(F.col("b.llr_u") <= -SPRT_ALPHA_BOUND,
                           F.lit("accept_h0"))
                     .otherwise(F.lit("undecided")).alias("decision")))


def _sprt_sql() -> str:
    inc_pos = (f"CAST(round(ln({SPRT_P1_NUM}.0 / {SPRT_P0_NUM})"
               " * 1000000, 0) AS BIGINT)")
    inc_neg = (f"CAST(round(ln((100.0 - {SPRT_P1_NUM}) / (100.0 -"
               f" {SPRT_P0_NUM})) * 1000000, 0) AS BIGINT)")
    return f"""
WITH obs AS (
    SELECT event_id, ts,
           CASE WHEN event_type = 'click' THEN {inc_pos}
                ELSE {inc_neg} END AS inc
    FROM events WHERE event_type IN ('click', 'error')
),
head AS (
    SELECT * FROM obs ORDER BY ts, event_id LIMIT {SPRT_HORIZON}
),
walked AS (
    SELECT event_id, ts,
           row_number() OVER (ORDER BY ts, event_id) AS n,
           sum(inc) OVER (ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS llr_u
    FROM head
),
crossed AS (
    SELECT min(struct_pack(n := n, llr_u := llr_u)) AS b
    FROM walked WHERE abs(llr_u) >= {SPRT_ALPHA_BOUND}
),
total AS (SELECT count(*) AS n_total FROM obs)
SELECT b.n AS n_at_decision, n_total,
       round(b.llr_u / 1e6, 4) AS llr,
       CASE WHEN b.llr_u >= {SPRT_ALPHA_BOUND} THEN 'accept_h1'
            WHEN b.llr_u <= -{SPRT_ALPHA_BOUND} THEN 'accept_h0'
            ELSE 'undecided' END AS decision
FROM crossed CROSS JOIN total
"""

QUERIES["sprt_sequential_test"] = (sprt_sequential_test, _sprt_sql())


# --------------------------------------------------------------------------
# rolling_active_users: trailing-7-day distinct users per day (WAU)
# --------------------------------------------------------------------------
RAU_WINDOW = 7


def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engagement metric every product dashboard leads with:
    per calendar day, the distinct users active in the trailing
    ``RAU_WINDOW`` days (WAU), next to the single-day DAU. Rolling
    DISTINCT cannot ride a window frame (distinct isn't subtractable),
    so the standard shape is: dedupe to (day, user) once, then a
    day-range join against the (tiny) day spine and one distinct
    count per window — the join explodes each (day, user) row into at
    most 7 spine rows, bounded by the window, never the data.

    At 100 TB the (day, user) dedup is the only data-sized shuffle
    (md5-fixed-width key not needed — user_id is already an int);
    the spine side is |days| rows broadcast. The HLL-register variant
    (merge 7 daily sketches per day, see ``hll_merge_check``) replaces
    the exact distinct when users stop fitting.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    du = ev.select(day.alias("day"), "user_id").distinct()
    spine = du.select("day").distinct()
    joined = (du.join(F.broadcast(spine.withColumnRenamed("day", "spine_day")),
                      (F.col("day") <= F.col("spine_day"))
                      & (F.col("day") > F.col("spine_day") - RAU_WINDOW)))
    wau = (joined.groupBy("spine_day")
           .agg(F.countDistinct("user_id").alias("wau")))
    dau = du.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    return (wau.join(dau, wau.spine_day == dau.day)
            .select(F.col("spine_day").cast("long").alias("day"),
                    "dau", "wau",
                    F.round(F.col("dau") / F.col("wau"), 4)
                     .alias("stickiness")))


_RAU_SQL = f"""
WITH du AS (
    SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
    FROM events
),
spine AS (SELECT DISTINCT day AS spine_day FROM du),
wau AS (
    SELECT spine_day, count(DISTINCT user_id) AS wau
    FROM du JOIN spine
      ON du.day <= spine.spine_day
     AND du.day > spine.spine_day - {RAU_WINDOW}
    GROUP BY spine_day
),
dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY day)
SELECT CAST(spine_day AS BIGINT) AS day, dau, wau,
       round(dau / wau, 4) AS stickiness
FROM wau JOIN dau ON dau.day = wau.spine_day
"""

QUERIES["rolling_active_users"] = (rolling_active_users, _RAU_SQL)


# ---------------------------------------------------------------------------
# RFM customer segmentation (deterministic rank-based quintiles)
# ---------------------------------------------------------------------------


def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days since last order), frequency
    (order count), monetary (lifetime cents) per customer, each scored
    into quintiles, reported as segment sizes with average monetary.

    Quintiles are ``floor(5·(row_number−1)/n)+1`` over a FULLY
    tie-broken order (metric, custkey) — never ntile(), whose tie
    placement is engine-defined (CLAUDE.md rank rule). Recency uses
    integer epoch-day arithmetic against the corpus max date (derived,
    not a wall-clock constant — replayable).

    Each global rank is computed WITHOUT a global sort via the
    two-level bucket walk (exact_global_percentile pattern): bucket
    on the metric VALUE (recency days and order counts are bounded
    alphabets; monetary buckets $100k-wide, bounded by the spend
    range, not customer cardinality), cum_before per bucket from a
    triangular join on the broadcast bucket table, local row_number
    PARTITIONED by bucket, global rank = cum_before + local rank —
    an exact identity since (bucket, metric, custkey) is the same
    total order as (metric, custkey). Monetary bucket ids use
    `div` on non-negative cents, so truncation == floor.

    Scale: per-customer aggregate is one keyed shuffle (persisted,
    released via tables.release — three score branches and the
    final join reuse it); each score is a map-side-combinable bucket
    count plus a bucket-partitioned window; scores rejoin on the
    customer key. The only single-partition stages are the final
    1-row reduces fed by aggregates (AUDIT single_part=2, bounded
    by construction); no fact-scale stage is ever single-task."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"))
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.max("oday").alias("last_day"),
                     F.count(F.lit(1)).alias("frequency"),
                     F.sum("price_c").alias("monetary_c")))
    maxday = per_cust.agg(F.max("last_day").alias("max_day"))
    base = persist(
        per_cust.join(F.broadcast(maxday))
        .select("o_custkey",
                (F.col("max_day") - F.col("last_day")).alias("recency_d"),
                "frequency", "monetary_c"))
    total = base.agg(F.count(F.lit(1)).cast("long").alias("nn"))

    def quint(metric_col, asc, name, bucket_width=None):
        """Two-level global-rank quintile: (o_custkey, name) frame."""
        bucket = (F.col(metric_col) if bucket_width is None
                  else F.expr(f"{metric_col} div {bucket_width}"))
        rows = base.select("o_custkey", metric_col,
                           bucket.cast("long").alias("bucket"))
        b = rows.groupBy("bucket").agg(
            F.count(F.lit(1)).cast("long").alias("bn"))
        before = (F.col("cb") < F.col("a.bucket") if asc
                  else F.col("cb") > F.col("a.bucket"))
        cum_before = (
            b.alias("a")
            .join(F.broadcast(b.select(F.col("bucket").alias("cb"),
                                       F.col("bn").alias("cn"))),
                  before, "left")
            .groupBy(F.col("a.bucket").alias("bucket"))
            .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long")
                  .alias("cum_before")))
        order = ([F.col(metric_col).asc(), F.col("o_custkey").asc()]
                 if asc else
                 [F.col(metric_col).desc(), F.col("o_custkey").asc()])
        wloc = Window.partitionBy("bucket").orderBy(*order)
        rn = (F.col("cum_before") + F.row_number().over(wloc).cast("long"))
        return (rows.join(F.broadcast(cum_before), "bucket")
                .crossJoin(F.broadcast(total))
                .select("o_custkey",
                        (F.floor(5 * (rn - 1) / F.col("nn")) + 1)
                         .cast("int").alias(name)))

    scored = (base.select("o_custkey", "monetary_c")
              .join(quint("recency_d", True, "r_score"), "o_custkey")
              .join(quint("frequency", False, "f_score"), "o_custkey")
              .join(quint("monetary_c", False, "m_score", 10000000),
                    "o_custkey"))
    return (scored.groupBy("r_score", "f_score", "m_score")
            .agg(F.count(F.lit(1)).alias("n_customers"),
                 F.floor(F.sum("monetary_c") / F.count(F.lit(1)))
                  .cast("long").alias("avg_monetary_c")))


_RFM_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         max(epoch_us(o_orderdate) // 86400000000) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS monetary_c
  FROM orders GROUP BY 1
), base AS (
  SELECT o_custkey,
         (SELECT max(last_day) FROM per_cust) - last_day AS recency_d,
         frequency, monetary_c
  FROM per_cust
), scored AS (
  SELECT o_custkey, monetary_c,
         CAST(floor(5.0 * (row_number() OVER (ORDER BY recency_d ASC,
                                              o_custkey ASC) - 1)
                    / count(*) OVER ()) + 1 AS INT) AS r_score,
         CAST(floor(5.0 * (row_number() OVER (ORDER BY frequency DESC,
                                              o_custkey ASC) - 1)
                    / count(*) OVER ()) + 1 AS INT) AS f_score,
         CAST(floor(5.0 * (row_number() OVER (ORDER BY monetary_c DESC,
                                              o_custkey ASC) - 1)
                    / count(*) OVER ()) + 1 AS INT) AS m_score
  FROM base
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(floor(sum(monetary_c) / CAST(count(*) AS DOUBLE)) AS BIGINT)
           AS avg_monetary_c
FROM scored
GROUP BY 1, 2, 3
"""

QUERIES["rfm_segmentation"] = (rfm_segmentation, _RFM_SQL)


# ---------------------------------------------------------------------------
# MATCH_RECOGNIZE-style sequence pattern matching (regex over encoded rows)
# ---------------------------------------------------------------------------
# view→click→purchase with arbitrary repetitions: the classic funnel
# pattern 'v+c+p' in MATCH_RECOGNIZE terms (A+ B+ C).
_MR_PATTERN = "v+c+p"
_MR_CODE = {"click": "c", "error": "e", "purchase": "p",
            "signup": "s", "view": "v"}


def match_recognize_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE emulation: encode each user's time-ordered
    event stream as a character string (one char per event type) and
    count non-overlapping matches of the pattern ``v+c+p`` with a
    regex — the row-pattern-matching feature (SQL:2016) neither engine
    ships, expressed portably. Non-overlapping leftmost scan semantics
    are identical in Java regex and RE2 for this possessive-free
    pattern.

    Output: per-user match counts aggregated to a distribution
    (n_matches → users), plus total matched users — the funnel
    completion report.

    Scale: the encode is one keyed collect (array_sort pins order by
    (ts, event_id) — full tie-break); per-user strings are session-
    bounded. At 100 TB, sessionize first so no single user's string is
    unbounded (the sessionization operator exists in this module)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"),
        "event_type")
    # Fallback for types outside _MR_CODE is NULL in BOTH engines: the
    # oracle's CASE yields NULL (string_agg drops it) and array_join
    # filters nulls — a raw-string fallback would inject multi-char
    # words into Spark's stream only and silently break parity.
    code = F.lit(None).cast("string")
    for name, ch in _MR_CODE.items():
        code = F.when(F.col("event_type") == name, ch).otherwise(code)
    seq = (ev.select("user_id", F.struct("tus", "event_id",
                                         code.alias("ch")).alias("s"))
           .groupBy("user_id")
           .agg(F.array_join(
               F.transform(F.array_sort(F.collect_list("s")),
                           lambda t: t["ch"]), "").alias("stream")))
    per_user = seq.select(
        "user_id",
        F.regexp_count("stream", F.lit(_MR_PATTERN)).cast("long")
         .alias("n_matches"))
    return (per_user.groupBy("n_matches")
            .agg(F.count(F.lit(1)).alias("n_users")))


_MR_SQL = f"""
WITH coded AS (
  SELECT user_id, epoch_us(ts) AS tus, event_id,
         CASE event_type WHEN 'click' THEN 'c' WHEN 'error' THEN 'e'
              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
              WHEN 'view' THEN 'v' END AS ch
  FROM events
), streams AS (
  SELECT user_id, string_agg(ch, '' ORDER BY tus, event_id) AS stream
  FROM coded GROUP BY user_id
), per_user AS (
  SELECT user_id,
         CAST(len(regexp_extract_all(stream, '{_MR_PATTERN}')) AS BIGINT)
             AS n_matches
  FROM streams
)
SELECT n_matches, CAST(count(*) AS BIGINT) AS n_users
FROM per_user GROUP BY 1
"""

QUERIES["match_recognize_funnel"] = (match_recognize_funnel, _MR_SQL)


# ---------------------------------------------------------------------------
# Cooldown dedup (sequential throttle — greedy keep with 60s refractory)
# ---------------------------------------------------------------------------
_COOLDOWN_US = 60_000_000  # 60s refractory window per (user, type)


def cooldown_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttle dedup: per (user, event type), keep an event only if
    ≥60s elapsed since the last KEPT event — the alerting/metering
    semantics a simple window lag can't express (kept-ness depends on
    prior kept-ness, a sequential recurrence). Runs as a greedy left
    fold over each key's time-ordered array.

    DuckDB in-place struct_pack hazard (CLAUDE.md): the `kept` field
    reads acc.last, so it is ordered BEFORE the `last` write.

    Output: per event type, events in vs kept vs suppressed.

    Scale: state is one (last_ts, kept) pair per key inside an
    interpreted fold over session-bounded arrays; the heavy reduction
    (collect per key) is one keyed shuffle. The identical recurrence
    moves to applyInPandasWithState on an unbounded stream (see
    streaming/windows.py)."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"),
        "event_id")
    seqs = (ev.select("user_id", "event_type",
                      F.struct("tus", "event_id").alias("s"))
            .groupBy("user_id", "event_type")
            .agg(F.array_sort(F.collect_list("s")).alias("xs")))
    elems = F.transform(F.col("xs"), lambda t: F.struct(
        F.lit(0).cast("long").alias("kept"), t["tus"].alias("last")))
    init = F.struct(F.lit(0).cast("long").alias("kept"),
                    F.lit(-(1 << 62)).cast("long").alias("last"))

    def step(acc, e):
        keep = (e["last"] - acc["last"]) >= _COOLDOWN_US
        return F.struct(
            (acc["kept"] + F.when(keep, 1).otherwise(0)).alias("kept"),
            F.when(keep, e["last"]).otherwise(acc["last"]).alias("last"))

    acc = F.aggregate(elems, init, step)
    per_key = seqs.select(
        "event_type", F.size("xs").cast("long").alias("n_in"),
        acc["kept"].alias("n_kept"))
    return (per_key.groupBy("event_type")
            .agg(F.sum("n_in").alias("events_in"),
                 F.sum("n_kept").alias("events_kept"),
                 (F.sum("n_in") - F.sum("n_kept")).alias("suppressed")))


_COOLDOWN_SQL = f"""
WITH seqs AS (
  SELECT user_id, event_type,
         list(epoch_us(ts) ORDER BY epoch_us(ts), event_id) AS xs
  FROM events GROUP BY 1, 2
), folded AS (
  -- LIST accumulator [kept, last], not struct_pack: DuckDB 1.0's
  -- struct accumulators corrupt under grouped RAGGED lists with
  -- data-dependent branches (measured at sf0.1: 1500 ragged user
  -- sequences, 2 groups decoded wrong; a single-list accumulator is
  -- one vector value per lane and is immune — see CLAUDE.md)
  SELECT event_type, len(xs) AS n_in,
         list_reduce(
           list_prepend([0::BIGINT, {-(1 << 62)}::BIGINT],
                        list_transform(xs, t -> [0::BIGINT, t])),
           (acc, e) -> [
             acc[1] + CASE WHEN e[2] - acc[2] >= {_COOLDOWN_US}
                           THEN 1 ELSE 0 END,
             CASE WHEN e[2] - acc[2] >= {_COOLDOWN_US}
                  THEN e[2] ELSE acc[2] END])[1] AS n_kept
  FROM seqs
)
SELECT event_type,
       CAST(sum(n_in) AS BIGINT) AS events_in,
       CAST(sum(n_kept) AS BIGINT) AS events_kept,
       CAST(sum(n_in) - sum(n_kept) AS BIGINT) AS suppressed
FROM folded GROUP BY 1
"""

QUERIES["cooldown_dedup"] = (cooldown_dedup, _COOLDOWN_SQL)


# ---------------------------------------------------------------------------
# Conversion latency quartiles (exact rank-selected, no percentile())
# ---------------------------------------------------------------------------


def conversion_latency_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: for every user whose first
    purchase follows their first view, the view→purchase latency in
    whole seconds; reported as EXACT quartiles selected by rank
    (elements at ⌈n/4⌉, ⌈n/2⌉, ⌈3n/4⌉ of the (latency, user)-ordered
    sequence) — engine percentile()/quantile() interpolation and tie
    rules differ, rank selection of an actual element cannot.

    Scale: two conditional-min aggregates per user (one keyed
    shuffle), a user-scale rank window, then three broadcast-able
    scalar picks. The rank window is single-partition over CONVERTING
    users only — report-scale; swap for the histogram split beyond
    that."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"))
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view",
                                  F.col("tus"))).alias("first_view"),
                     F.min(F.when(F.col("event_type") == "purchase",
                                  F.col("tus"))).alias("first_buy")))
    conv = (per_user
            .where(F.col("first_view").isNotNull()
                   & F.col("first_buy").isNotNull()
                   & (F.col("first_buy") > F.col("first_view")))
            .select("user_id",
                    ((F.col("first_buy") - F.col("first_view"))
                     / F.lit(1_000_000)).cast("long").alias("lat_s")))
    w = Window.orderBy("lat_s", "user_id")
    ranked = conv.select(
        "lat_s", F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("n"))
    pick = lambda q: F.max(F.when(  # noqa: E731
        F.col("i") == F.ceil(F.col("n") * q / 4).cast("long"),
        F.col("lat_s")))
    return ranked.agg(F.max("n").alias("n_converting"),
                      pick(1).alias("q1_s"), pick(2).alias("median_s"),
                      pick(3).alias("q3_s"))


_CONV_LAT_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
             AS first_view,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
             AS first_buy
  FROM events GROUP BY 1
), conv AS (
  SELECT user_id,
         CAST((first_buy - first_view) // 1000000 AS BIGINT) AS lat_s
  FROM per_user
  WHERE first_view IS NOT NULL AND first_buy IS NOT NULL
    AND first_buy > first_view
), ranked AS (
  SELECT lat_s,
         CAST(row_number() OVER (ORDER BY lat_s, user_id) AS BIGINT) AS i,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM conv
)
SELECT max(n) AS n_converting,
       max(CASE WHEN i = CAST(ceil(n * 1 / 4.0) AS BIGINT)
                THEN lat_s END) AS q1_s,
       max(CASE WHEN i = CAST(ceil(n * 2 / 4.0) AS BIGINT)
                THEN lat_s END) AS median_s,
       max(CASE WHEN i = CAST(ceil(n * 3 / 4.0) AS BIGINT)
                THEN lat_s END) AS q3_s
FROM ranked
"""

QUERIES["conversion_latency_quartiles"] = (conversion_latency_quartiles,
                                           _CONV_LAT_SQL)


# ---------------------------------------------------------------------------
# Kaplan–Meier churn survival curve (product-limit, exact risk sets)
# ---------------------------------------------------------------------------
_KM_CENSOR_DAYS = 180  # active within the last 180 days => censored


def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime survival: Kaplan–Meier product-limit over
    monthly lifetimes (first→last order), churn = no order within the
    dataset's final 180 days (later actives are CENSORED, which is
    the whole point of KM over a naive histogram). Risk sets and event
    counts are exact integers; the survival product Π(1−dᵢ/nᵢ) is a
    deterministic left fold over the (tiny) month-ordered array —
    engines multiply identical rationals in identical order.

    Scale: per-customer lifetime is one keyed aggregate; the monthly
    table is report-sized, so the reverse-cumulative risk window and
    the fold are free. The censor boundary derives from max(order
    day), never wall-clock."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("oday").alias("d0"), F.max("oday").alias("d1"))
    mx = F.broadcast(per_cust.agg(F.max("d1").alias("dmax")))
    lif = (per_cust.crossJoin(mx)
           .select(((F.col("d1") - F.col("d0")) / 30).cast("long")
                   .alias("m"),
                   (F.col("d1") < F.col("dmax") - _KM_CENSOR_DAYS)
                   .cast("long").alias("event")))
    monthly = (lif.groupBy("m")
               .agg(F.count(F.lit(1)).alias("ending"),
                    F.sum("event").alias("d")))
    from pyspark.sql import Window
    w_rev = (Window.orderBy(F.desc("m"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = monthly.select(
        "m", "d", F.sum("ending").over(w_rev).alias("n_risk"))
    folded = (risk.select(F.struct("m", "d", "n_risk").alias("s"))
              .agg(F.array_sort(F.collect_list("s")).alias("xs")))
    # emit the curve rows with running survival via per-prefix folds —
    # quadratic in months, which is fine because the monthly frame is
    # report-sized by construction (a long-horizon variant would fold
    # once carrying a running list)
    idx = F.sequence(F.lit(1), F.size("xs"))
    curve = folded.select(F.explode(F.transform(idx, lambda i: F.struct(
        F.element_at("xs", i)["m"].alias("m"),
        F.element_at("xs", i)["n_risk"].alias("n_risk"),
        F.element_at("xs", i)["d"].alias("churned"),
        F.round(F.aggregate(
            F.slice("xs", 1, i), F.lit(1.0),
            lambda acc, e: acc * (F.lit(1.0)
                                  - e["d"].cast("double")
                                  / e["n_risk"].cast("double"))), 6)
         .alias("survival")))).alias("r")).select("r.*")
    return curve


_KM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         min(epoch_us(o_orderdate) // 86400000000) AS d0,
         max(epoch_us(o_orderdate) // 86400000000) AS d1
  FROM orders GROUP BY 1
), lif AS (
  SELECT CAST((d1 - d0) // 30 AS BIGINT) AS m,
         CASE WHEN d1 < (SELECT max(d1) FROM per_cust) - {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS event
  FROM per_cust
), monthly AS (
  SELECT m, CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(event) AS BIGINT) AS d
  FROM lif GROUP BY 1
), risk AS (
  SELECT m, d,
         CAST(sum(ending) OVER (ORDER BY m DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_risk
  FROM monthly
), arr AS (
  SELECT list(struct_pack(m := m, d := d, n_risk := n_risk)
              ORDER BY m) AS xs
  FROM risk
)
SELECT u.e.m AS m, u.e.n_risk AS n_risk, u.e.d AS churned,
       round(list_reduce(list_prepend(1.0,
           list_transform(list_slice(xs, 1, u.i),
               e2 -> 1.0 - CAST(e2.d AS DOUBLE) / e2.n_risk)),
           (a, x) -> a * x), 6) AS survival
FROM arr, unnest(list_transform(range(1, len(xs) + 1),
         i -> struct_pack(i := i, e := xs[i]))) AS t(u)
"""

QUERIES["kaplan_meier_churn"] = (kaplan_meier_churn, _KM_SQL)


# ---------------------------------------------------------------------------
# Peak concurrency (sweep line over session intervals)
# ---------------------------------------------------------------------------
_PC_GAP_US = 1_800_000_000  # 30-min session gap


def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent sessions per day — the capacity-planning number:
    sessionize per user (30-min gaps), explode each session into
    (+1 at start, −1 at end) deltas, sweep in time order with a
    running sum, and take each day's max. Tie order inside the sweep
    is pinned (ts, delta asc, user) so an end and a start at the same
    µs resolve identically in both engines (end counts first — a
    back-to-back handoff isn't double-counted).

    Scale: sessionization is the standard lag/cumsum idiom keyed by
    user; the sweep is a single time-ordered window — at 100 TB
    partition the sweep by day (shown here) so no global ordering
    exists; day-boundary-crossing sessions would pre-split per day."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"))
    wu = Window.partitionBy("user_id").orderBy("tus")
    marked = ev.select(
        "user_id", "tus",
        F.when((F.col("tus") - F.lag("tus", 1).over(wu)) > _PC_GAP_US, 1)
         .when(F.lag("tus", 1).over(wu).isNull(), 1)
         .otherwise(0).alias("new_s"))
    sess = (marked
            .withColumn("sid", F.sum("new_s").over(
                wu.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "sid")
            .agg(F.min("tus").alias("t0"), F.max("tus").alias("t1")))
    deltas = (sess.select("user_id", F.col("t0").alias("tus"),
                          F.lit(1).alias("delta"))
              .unionByName(sess.select("user_id", F.col("t1").alias("tus"),
                                       F.lit(-1).alias("delta"))))
    day = (F.col("tus") / F.lit(86_400_000_000)).cast("long")
    wd = (Window.partitionBy("day")
          .orderBy("tus", F.asc("delta"), "user_id")
          .rowsBetween(Window.unboundedPreceding, 0))
    swept = (deltas.select(day.alias("day"), "tus", "delta", "user_id")
             .withColumn("load", F.sum("delta").over(wd)))
    return (swept.groupBy("day")
            .agg(F.max("load").cast("long").alias("peak_concurrent"),
                 F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
                  .cast("long").alias("sessions_started")))


_PC_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS tus FROM events
), marked AS (
  SELECT user_id, tus,
         CASE WHEN lag(tus) OVER w IS NULL THEN 1
              WHEN tus - lag(tus) OVER w > {_PC_GAP_US} THEN 1
              ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)
), sid AS (
  SELECT user_id, tus,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sid
  FROM marked
), sess AS (
  SELECT user_id, sid, min(tus) AS t0, max(tus) AS t1
  FROM sid GROUP BY 1, 2
), deltas AS (
  SELECT user_id, t0 AS tus, 1 AS delta FROM sess
  UNION ALL
  SELECT user_id, t1 AS tus, -1 AS delta FROM sess
), swept AS (
  SELECT tus // 86400000000 AS day, tus, delta, user_id,
         sum(delta) OVER (PARTITION BY tus // 86400000000
                          ORDER BY tus, delta ASC, user_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS load
  FROM deltas
)
SELECT day, CAST(max(load) AS BIGINT) AS peak_concurrent,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS sessions_started
FROM swept GROUP BY 1
"""

QUERIES["peak_concurrency"] = (peak_concurrency, _PC_SQL)


# ---------------------------------------------------------------------------
# Poisson bootstrap CI (deterministic hash resampling, B replicates)
# ---------------------------------------------------------------------------
_BOOT_B = 40
# exact 48-bit Poisson(1) CDF cut points (computed once, host-side —
# both engines compare the same integer hash against the same integers)
_POIS_CUTS = (103548857136060, 207097714272121, 258872142840152,
              276130285696162, 280444821410164, 281307728552965)


def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap 95% CI for mean order value WITHOUT resampling rows:
    the Poisson bootstrap — each row's weight in replicate b is a
    Poisson(1) draw derived from hash(id, b) against fixed integer CDF
    cut points, so every replicate is one weighted aggregate over the
    SAME scan and the whole B-replicate bootstrap is a single pass
    (explode × B, map-side combinable). The classic trick for
    resampling data too large to sample-with-replacement.

    Determinism: the 48-bit hash u and the CDF cut points are exact
    integers (host-computed constants); replicate means divide exact
    int64 sums once; the CI bounds are rank-SELECTED replicate means
    (ceil(0.025·B)=1, ceil(0.975·B)=39 of 40), never interpolated.

    Scale: B multiplies the aggregate input, not the shuffle — state
    is B rows. At 100 TB pick B≈100 and this is still one scan."""
    from pyspark.sql import Window

    from alma_publish_to_marc_spark.operators.sketches import _h48

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"))
    reps = orders.select(
        "o_orderkey", "price_c",
        F.explode(F.array(*[F.lit(b) for b in range(1, _BOOT_B + 1)]))
         .alias("b"))
    u = _h48(F.concat(F.col("o_orderkey").cast("string"),
                      F.lit(":"), F.col("b").cast("string")), "boot:")
    wgt = F.when(u < _POIS_CUTS[0], 0)
    for k in range(1, len(_POIS_CUTS)):
        wgt = wgt.when(u < _POIS_CUTS[k], k)
    wgt = wgt.otherwise(len(_POIS_CUTS))
    means = (reps.select("b", wgt.alias("w"), "price_c")
             .groupBy("b")
             .agg((F.sum(F.col("w") * F.col("price_c")).cast("double")
                   / F.sum("w").cast("double")).alias("mean_c")))
    w_rank = Window.orderBy("mean_c", "b")
    ranked = means.select(
        "mean_c", F.row_number().over(w_rank).alias("r"))
    point = orders.agg((F.sum("price_c").cast("double")
                        / F.count(F.lit(1)).cast("double")).alias("mean_c"))
    lo_r, hi_r = 1, _BOOT_B - 1
    return (point.crossJoin(F.broadcast(
        ranked.agg(
            F.max(F.when(F.col("r") == lo_r, F.col("mean_c"))).alias("lo_c"),
            F.max(F.when(F.col("r") == hi_r, F.col("mean_c"))).alias("hi_c"))))
        .select(F.round(F.col("mean_c") / 100.0, 4).alias("mean"),
                F.round(F.col("lo_c") / 100.0, 4).alias("ci_lo"),
                F.round(F.col("hi_c") / 100.0, 4).alias("ci_hi"),
                F.lit(_BOOT_B).cast("int").alias("n_replicates")))


def _boot_sql() -> str:
    cuts = _POIS_CUTS
    ladder = "CASE " + " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(cuts)) \
        + f" ELSE {len(cuts)} END"
    return f"""
WITH orders_c AS (
  SELECT o_orderkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), reps AS (
  SELECT o_orderkey, price_c, b,
         CAST('0x' || substr(md5('boot:' || CAST(o_orderkey AS VARCHAR)
                                 || ':' || CAST(b AS VARCHAR)), 1, 12)
              AS BIGINT) AS u
  FROM orders_c, unnest(range(1, {_BOOT_B + 1})) AS r(b)
), means AS (
  SELECT b,
         CAST(sum(({ladder}) * price_c) AS BIGINT)
         / CAST(CAST(sum({ladder}) AS BIGINT) AS DOUBLE) AS mean_c
  FROM reps GROUP BY b
), ranked AS (
  SELECT mean_c, row_number() OVER (ORDER BY mean_c, b) AS r FROM means
), point AS (
  SELECT CAST(sum(price_c) AS BIGINT)
         / CAST(count(*) AS DOUBLE) AS mean_c
  FROM orders_c
)
SELECT round(p.mean_c / 100.0, 4) AS mean,
       round((SELECT mean_c FROM ranked WHERE r = 1) / 100.0, 4) AS ci_lo,
       round((SELECT mean_c FROM ranked WHERE r = {_BOOT_B - 1}) / 100.0, 4)
           AS ci_hi,
       CAST({_BOOT_B} AS INT) AS n_replicates
FROM point p
"""


QUERIES["poisson_bootstrap_ci"] = (poisson_bootstrap_ci, _boot_sql())


# ---------------------------------------------------------------------------
# ANOVA variance decomposition (eta² of order value by nation)
# ---------------------------------------------------------------------------


def anova_eta_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA decomposition of order-value variance by customer
    nation: SS_between/SS_total (η²) plus the F statistic — "how much
    of spend variance is geography". Group moments (n, Σx, Σx²) are
    exact int64 cents; Σ_g S_g²/n_g is a sum of per-group doubles, so
    it folds over the NATION-SORTED moment array (collect 25 rows,
    aggregate lambda) — fixed association, identical in both engines
    (CLAUDE.md float-reduction rule; a plain agg sum would be
    partition-order-dependent).

    Scale: one keyed aggregate to 25 group-moment rows; everything
    after is a 1-row computation. The collect is group-count-sized,
    never data-sized."""
    # integer DOLLARS (midpoint-safe half-up from exact cents): cents²
    # sums overflow int64 by sf0.01; dollar moments hold to sf≈100
    dollars = F.floor((F.round(F.col("o_totalprice") * 100) + 50) / 100.0) \
        .cast("long")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", dollars.alias("x"))
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    g = (orders.join(cust, orders.o_custkey == cust.c_custkey)
         .groupBy("c_nationkey")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
              F.sum(F.col("x") * F.col("x")).alias("q")))
    arr = g.agg(F.array_sort(F.collect_list(
        F.struct("c_nationkey", "n", "s", "q"))).alias("xs"))
    fold = F.aggregate(
        F.col("xs"),
        F.struct(F.lit(0).cast("long").alias("nn"),
                 F.lit(0).cast("long").alias("ss"),
                 F.lit(0).cast("long").alias("qq"),
                 F.lit(0.0).alias("btw"),
                 F.lit(0).cast("long").alias("k")),
        lambda acc, e: F.struct(
            (acc["nn"] + e["n"]).alias("nn"),
            (acc["ss"] + e["s"]).alias("ss"),
            (acc["qq"] + e["q"]).alias("qq"),
            (acc["btw"] + e["s"].cast("double") * e["s"].cast("double")
             / e["n"].cast("double")).alias("btw"),
            (acc["k"] + 1).alias("k")))
    m = arr.select(fold.alias("a")).select(
        F.col("a.nn").alias("n"), F.col("a.ss").alias("s"),
        F.col("a.qq").alias("q"), F.col("a.btw").alias("b"),
        F.col("a.k").alias("k"))
    grand = F.col("s").cast("double") * F.col("s").cast("double") \
        / F.col("n").cast("double")
    ss_b = F.col("b") - grand
    ss_t = F.col("q").cast("double") - grand
    ss_w = ss_t - ss_b
    fstat = (ss_b / (F.col("k") - 1).cast("double")) \
        / (ss_w / (F.col("n") - F.col("k")).cast("double"))
    return m.select(
        F.col("n").alias("n_orders"), F.col("k").cast("int").alias("k_groups"),
        F.round(ss_b / ss_t, 6).alias("eta_sq"),
        F.round(fstat, 4).alias("f_stat"))


_ANOVA_SQL = """
WITH g AS (
  SELECT c.c_nationkey, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(floor((round(o.o_totalprice * 100) + 50) / 100.0)
                       AS BIGINT)) AS BIGINT) AS s,
         CAST(sum(CAST(floor((round(o.o_totalprice * 100) + 50) / 100.0)
                       AS BIGINT)
                  * CAST(floor((round(o.o_totalprice * 100) + 50) / 100.0)
                         AS BIGINT)) AS BIGINT) AS q
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1
), arr AS (
  SELECT list(struct_pack(nk := c_nationkey, n := n, s := s, q := q)
              ORDER BY c_nationkey) AS xs
  FROM g
), folded AS (
  SELECT list_reduce(
    list_prepend(struct_pack(nn := 0::BIGINT, ss := 0::BIGINT,
                             qq := 0::BIGINT, btw := 0.0,
                             k := 0::BIGINT),
                 list_transform(xs, e -> struct_pack(
                     nn := e.n, ss := e.s, qq := e.q,
                     btw := CAST(e.s AS DOUBLE), k := e.n))),
    (acc, e) -> struct_pack(
        nn := acc.nn + e.nn,
        ss := acc.ss + e.ss,
        qq := acc.qq + e.qq,
        btw := acc.btw
                   + CAST(e.ss AS DOUBLE) * CAST(e.ss AS DOUBLE)
                     / CAST(e.nn AS DOUBLE),
        k := acc.k + 1)) AS a
  FROM arr
)
SELECT a.nn AS n_orders, CAST(a.k AS INT) AS k_groups,
       round((a.btw - CAST(a.ss AS DOUBLE) * a.ss / a.nn)
             / (CAST(a.qq AS DOUBLE) - CAST(a.ss AS DOUBLE) * a.ss / a.nn),
             6) AS eta_sq,
       round(((a.btw - CAST(a.ss AS DOUBLE) * a.ss / a.nn) / (a.k - 1))
             / ((CAST(a.qq AS DOUBLE) - a.btw) / (a.nn - a.k)), 4)
           AS f_stat
FROM folded
"""

QUERIES["anova_eta_squared"] = (anova_eta_squared, _ANOVA_SQL)


# ---------------------------------------------------------------------------
# Chi-square independence test (nation × market segment)
# ---------------------------------------------------------------------------


def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between customer nation
    and market segment. Per-cell terms use the cross-multiplied form
    (O·N − R·C)²/(N·R·C) — observed, marginals and N are exact int64,
    so each term is one double from exact inputs; terms sum over the
    (nation, segment)-SORTED cell array fold, pinning association
    (CLAUDE.md float-reduction rule).

    Scale: one keyed aggregate to ≤ 125 cells + two marginal
    re-aggregations of that tiny frame; the fold is cell-count-sized."""
    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment")
    cells = (cust.groupBy("c_nationkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("o")))
    rows_m = cells.groupBy("c_nationkey").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("nn"))
    j = (cells.join(F.broadcast(rows_m), "c_nationkey")
         .join(F.broadcast(cols_m), "c_mktsegment")
         .crossJoin(F.broadcast(tot)))
    arr = j.agg(F.array_sort(F.collect_list(F.struct(
        "c_nationkey", "c_mktsegment", "o", "r", "c", "nn"))).alias("xs"))
    term = lambda e: (  # noqa: E731
        (e["o"] * e["nn"] - e["r"] * e["c"]).cast("double")
        * (e["o"] * e["nn"] - e["r"] * e["c"]).cast("double")
        / (e["nn"].cast("double") * e["r"].cast("double")
           * e["c"].cast("double")))
    fold = F.aggregate(F.col("xs"),
                       F.struct(F.lit(0.0).alias("chi"),
                                F.lit(0).cast("long").alias("cells")),
                       lambda acc, e: F.struct(
                           (acc["chi"] + term(e)).alias("chi"),
                           (acc["cells"] + 1).alias("cells")))
    return (arr.select(fold.alias("a"))
            .select(F.col("a.cells").alias("n_cells"),
                    F.round(F.col("a.chi"), 4).alias("chi2")))


_CHI2_SQL = """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
), rows_m AS (
  SELECT c_nationkey, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
), cols_m AS (
  SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
), tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
arr AS (
  SELECT list(struct_pack(nk := ce.c_nationkey, seg := ce.c_mktsegment,
                          o := ce.o, r := rm.r, c := cm.c, nn := t.nn)
              ORDER BY ce.c_nationkey, ce.c_mktsegment) AS xs
  FROM cells ce
  JOIN rows_m rm ON ce.c_nationkey = rm.c_nationkey
  JOIN cols_m cm ON ce.c_mktsegment = cm.c_mktsegment
  CROSS JOIN tot t
), folded AS (
  SELECT list_reduce(
    list_prepend(struct_pack(chi := 0.0, cells := 0::BIGINT),
                 list_transform(xs, e -> struct_pack(
                     chi := CAST(e.o * e.nn - e.r * e.c AS DOUBLE)
                            * CAST(e.o * e.nn - e.r * e.c AS DOUBLE)
                            / (CAST(e.nn AS DOUBLE) * e.r * e.c),
                     cells := 1::BIGINT))),
    (acc, e) -> struct_pack(chi := acc.chi + e.chi,
                            cells := acc.cells + e.cells)) AS a
  FROM arr
)
SELECT a.cells AS n_cells, round(a.chi, 4) AS chi2 FROM folded
"""

QUERIES["chi2_independence"] = (chi2_independence, _CHI2_SQL)


# ---------------------------------------------------------------------------
# Daily cart-abandonment rate (sessions with intent but no purchase)
# ---------------------------------------------------------------------------


def abandonment_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily abandonment: share of sessions showing intent (a view or
    click) that never reach a purchase — the canonical e-commerce
    health metric, built on the same 30-min gap sessionization as
    ``peak_concurrency``. A session belongs to the day it STARTS
    (integer epoch-day of min ts). Rate is one exact-int division
    rounded at 4.

    Scale: sessionization is keyed by user; per-session flags are
    conditional MAXes inside the same aggregate; daily rollup is
    report-sized."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"))
    wu = Window.partitionBy("user_id").orderBy("tus")
    marked = ev.select(
        "user_id", "event_type", "tus",
        F.when(F.lag("tus", 1).over(wu).isNull(), 1)
         .when((F.col("tus") - F.lag("tus", 1).over(wu)) > 1_800_000_000, 1)
         .otherwise(0).alias("new_s"))
    sess = (marked
            .withColumn("sid", F.sum("new_s").over(
                wu.rowsBetween(Window.unboundedPreceding, 0)))
            .groupBy("user_id", "sid")
            .agg((F.min("tus") / F.lit(86_400_000_000)).cast("long")
                 .alias("day"),
                 F.max(F.when(F.col("event_type").isin("view", "click"), 1)
                       .otherwise(0)).alias("intent"),
                 F.max(F.when(F.col("event_type") == "purchase", 1)
                       .otherwise(0)).alias("bought")))
    return (sess.where(F.col("intent") == 1)
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("intent_sessions"),
                 F.sum(1 - F.col("bought")).cast("long")
                  .alias("abandoned"),
                 F.round(F.sum(1 - F.col("bought")).cast("double")
                         / F.count(F.lit(1)).cast("double"), 4)
                  .alias("abandonment_rate")))


_ABANDON_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
), marked AS (
  SELECT user_id, event_type, tus,
         CASE WHEN lag(tus) OVER w IS NULL THEN 1
              WHEN tus - lag(tus) OVER w > 1800000000 THEN 1
              ELSE 0 END AS new_s
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tus)
), sid AS (
  SELECT user_id, event_type, tus,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY tus
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS sid
  FROM marked
), sess AS (
  SELECT user_id, sid,
         CAST(min(tus) // 86400000000 AS BIGINT) AS day,
         max(CASE WHEN event_type IN ('view', 'click') THEN 1 ELSE 0 END)
             AS intent,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bought
  FROM sid GROUP BY 1, 2
)
SELECT day, CAST(count(*) AS BIGINT) AS intent_sessions,
       CAST(sum(1 - bought) AS BIGINT) AS abandoned,
       round(CAST(sum(1 - bought) AS BIGINT)
             / CAST(count(*) AS DOUBLE), 4) AS abandonment_rate
FROM sess WHERE intent = 1 GROUP BY 1
"""

QUERIES["abandonment_rate_daily"] = (abandonment_rate_daily, _ABANDON_SQL)


# ---------------------------------------------------------------------------
# Position-based (40/20/40) multi-touch attribution in exact basis points
# ---------------------------------------------------------------------------
_PBA_LOOKBACK_US = 86_400_000_000  # 1-day lookback window


def position_based_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based multi-touch attribution: every purchase's
    preceding 24h of clicks share 10,000 basis points — 40% first
    touch, 40% last, 20% split across middles — credited to the
    click's campaign (the ``props.k`` payload field). Extends the
    single-touch ``last_touch_attribution`` to the multi-touch scheme
    marketing actually reconciles budgets with.

    Exactness: credits are INTEGER bps; n=1 → 10000, n=2 → 5000/5000,
    n≥3 → 4000/4000 + floor(2000/(n−2)) per middle with the remainder
    assigned to the LAST middle (deterministic rule, stated) — every
    purchase's credits sum to exactly 10000, asserted by the output's
    global total. JSON extraction uses get_json_object/json_extract on
    a literal path.

    Scale: the purchase×click pair join is per-user keyed with the
    time predicate riding the join; per-purchase ordering is a window
    over (purchase, click-ts); campaign rollup is report-sized."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("ctus"),
        F.get_json_object("props", "$.k").cast("long").alias("campaign"))
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("pid"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("ptus"))
    touches = (buys.join(clicks, "user_id")
               .where((F.col("ctus") < F.col("ptus"))
                      & (F.col("ctus") >= F.col("ptus") - _PBA_LOOKBACK_US)))
    w = Window.partitionBy("pid").orderBy("ctus", "campaign")
    ranked = touches.select(
        "pid", "campaign",
        F.row_number().over(w).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("pid")).alias("n"))
    n, r = F.col("n"), F.col("r")
    mid_each = F.floor(2000 / (n - 2)).cast("long")
    mid_rem = F.lit(2000) - (n - 2) * mid_each
    bps = (F.when(n == 1, 10000)
           .when(n == 2, 5000)
           .when(r == 1, 4000).when(r == n, 4000)
           .when(r == n - 1, mid_each + mid_rem)
           .otherwise(mid_each)).cast("long")
    return (ranked.select("campaign", bps.alias("bps"))
            .groupBy("campaign")
            .agg(F.count(F.lit(1)).alias("n_touches"),
                 F.sum("bps").alias("credit_bps")))


_PBA_SQL = f"""
WITH clicks AS (
  SELECT user_id, epoch_us(ts) AS ctus,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS campaign
  FROM events WHERE event_type = 'click'
), buys AS (
  SELECT user_id, event_id AS pid, epoch_us(ts) AS ptus
  FROM events WHERE event_type = 'purchase'
), touches AS (
  SELECT b.pid, c.campaign, c.ctus
  FROM buys b JOIN clicks c ON b.user_id = c.user_id
  WHERE c.ctus < b.ptus AND c.ctus >= b.ptus - {_PBA_LOOKBACK_US}
), ranked AS (
  SELECT pid, campaign,
         CAST(row_number() OVER (PARTITION BY pid
                                 ORDER BY ctus, campaign) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY pid) AS BIGINT) AS n
  FROM touches
), credited AS (
  SELECT campaign,
         CAST(CASE WHEN n = 1 THEN 10000
                   WHEN n = 2 THEN 5000
                   WHEN r = 1 THEN 4000
                   WHEN r = n THEN 4000
                   WHEN r = n - 1
                        THEN CAST(floor(2000 / (n - 2)) AS BIGINT)
                             + 2000 - (n - 2)
                               * CAST(floor(2000 / (n - 2)) AS BIGINT)
                   ELSE CAST(floor(2000 / (n - 2)) AS BIGINT)
              END AS BIGINT) AS bps
  FROM ranked
)
SELECT campaign, CAST(count(*) AS BIGINT) AS n_touches,
       CAST(sum(bps) AS BIGINT) AS credit_bps
FROM credited GROUP BY 1
"""

QUERIES["position_based_attribution"] = (position_based_attribution,
                                         _PBA_SQL)


# ---------------------------------------------------------------------------
# Difference-in-differences estimator (2×2 exact-moment design)
# ---------------------------------------------------------------------------
_DID_CUT = "1999-01-01"
_DID_REGION = "ASIA"


def diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: change in mean order value for the
    treated group (customers in one region) vs control, across a
    policy cut date — DiD = (T_post − T_pre) − (C_post − C_pre), the
    workhorse quasi-experimental estimator. The four cell means are
    exact int64 cent sums divided once each; the estimator combines
    those four doubles (identical in both engines).

    Scale: one orders scan with the region membership broadcast; the
    whole design collapses to a 4-cell aggregate (map-side
    combinable). Standard errors would bootstrap with the Poisson
    operator in this module."""
    region = (load(spark, sf_dir, "region")
              .where(F.col("r_name") == _DID_REGION).select("r_regionkey"))
    nations = (load(spark, sf_dir, "nation")
               .join(F.broadcast(region),
                     F.col("n_regionkey") == F.col("r_regionkey"))
               .select("n_nationkey"))
    cust = (load(spark, sf_dir, "customer")
            .join(F.broadcast(nations),
                  F.col("c_nationkey") == F.col("n_nationkey"), "left_semi")
            .select("c_custkey"))
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        (F.col("o_orderdate") >= F.lit(_DID_CUT).cast("timestamp"))
        .cast("int").alias("post"))
    marked = orders.join(
        cust.select(F.col("c_custkey").alias("o_custkey"),
                    F.lit(1).alias("treated")),
        "o_custkey", "left").na.fill({"treated": 0})
    cells = (marked.groupBy("treated", "post")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")))
    wide = cells.agg(*[
        F.max(F.when((F.col("treated") == t) & (F.col("post") == p),
                     F.col("s").cast("double") / F.col("n").cast("double")))
         .alias(f"m_{t}{p}")
        for t in (0, 1) for p in (0, 1)])
    did = ((F.col("m_11") - F.col("m_10"))
           - (F.col("m_01") - F.col("m_00")))
    return wide.select(
        F.round(F.col("m_10") / 100.0, 4).alias("treated_pre"),
        F.round(F.col("m_11") / 100.0, 4).alias("treated_post"),
        F.round(F.col("m_00") / 100.0, 4).alias("control_pre"),
        F.round(F.col("m_01") / 100.0, 4).alias("control_post"),
        F.round(did / 100.0, 4).alias("did_estimate"))


_DID_SQL = f"""
WITH treated_cust AS (
  SELECT c.c_custkey
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{_DID_REGION}'
), cells AS (
  SELECT CASE WHEN t.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS treated,
         CASE WHEN o.o_orderdate >= TIMESTAMP '{_DID_CUT}'
              THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS s
  FROM orders o LEFT JOIN treated_cust t ON o.o_custkey = t.c_custkey
  GROUP BY 1, 2
), wide AS (
  SELECT
    max(CASE WHEN treated = 1 AND post = 0
             THEN s / CAST(n AS DOUBLE) END) AS m_10,
    max(CASE WHEN treated = 1 AND post = 1
             THEN s / CAST(n AS DOUBLE) END) AS m_11,
    max(CASE WHEN treated = 0 AND post = 0
             THEN s / CAST(n AS DOUBLE) END) AS m_00,
    max(CASE WHEN treated = 0 AND post = 1
             THEN s / CAST(n AS DOUBLE) END) AS m_01
  FROM cells
)
SELECT round(m_10 / 100.0, 4) AS treated_pre,
       round(m_11 / 100.0, 4) AS treated_post,
       round(m_00 / 100.0, 4) AS control_pre,
       round(m_01 / 100.0, 4) AS control_post,
       round(((m_11 - m_10) - (m_01 - m_00)) / 100.0, 4) AS did_estimate
FROM wide
"""

QUERIES["diff_in_differences"] = (diff_in_differences, _DID_SQL)


# ---------------------------------------------------------------------------
# Absorbing-chain purchase probability (K fixed-point matrix rounds)
# ---------------------------------------------------------------------------
_ABS_ROUNDS = 8
_ABS_TARGET = "purchase"


def absorption_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability of reaching PURCHASE within 8 transitions from each
    event state, under the empirical Markov chain with purchase made
    absorbing — the funnel question the raw transition matrix
    (``event_transition_matrix``) doesn't answer. Each round applies
    v' = ⌊Σ_t c_st·v_t / c_s⌋ in MICRO-INT space (every quotient a
    floor of exact int64 — kmeans/pagerank recipe), so the K rounds
    are bit-identical across engines; the oracle unrolls them as CTEs.

    Scale: the transition counts reduce the event stream once; rounds
    then run on a STATE-count-sized frame (5 rows) — iteration cost is
    independent of data volume, the defining property of
    matrix-power-on-aggregates analytics. Every per-round join carries
    an explicit broadcast hint on its constant-size side (state vector,
    per-state totals) so the audit reads broadcast-only: Catalyst can't
    size aggregate outputs up front and would otherwise plan 8
    SortMergeJoins for 5-row frames (r9 verdict, cosmetic)."""
    from alma_publish_to_marc_spark.tables import EVENT_TYPES

    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("tus"),
        "event_id")
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    trans = (ev.select("user_id", F.col("event_type").alias("f"),
                       F.lead("event_type", 1).over(w).alias("t"))
             .where(F.col("t").isNotNull())
             # absorbing: paths stop at purchase
             .where(F.col("f") != _ABS_TARGET))
    m = trans.groupBy("f", "t").agg(F.count(F.lit(1)).alias("c"))
    ftot = m.groupBy("f").agg(F.sum("c").alias("cf"))
    states = spark.createDataFrame([(s,) for s in EVENT_TYPES], "s string")
    v = states.select(
        "s", F.when(F.col("s") == _ABS_TARGET, 1_000_000).otherwise(0)
        .cast("long").alias("v"))
    for _ in range(_ABS_ROUNDS):
        stepped = (m.join(F.broadcast(v.select(F.col("s").alias("t"), "v")),
                          "t")
                   .groupBy("f").agg(F.sum(F.col("c") * F.col("v"))
                                     .alias("num"))
                   .join(F.broadcast(ftot), "f")
                   .select(F.col("f").alias("s"),
                           F.expr("num div cf").alias("v")))
        v = (states.join(F.broadcast(stepped), "s", "left")
             .select("s", F.when(F.col("s") == _ABS_TARGET, 1_000_000)
                     .otherwise(F.coalesce("v", F.lit(0)))
                     .cast("long").alias("v")))
    return v.select(F.col("s").alias("state"),
                    F.col("v").alias("p_absorb_e6"))


def _absorption_sql() -> str:
    from alma_publish_to_marc_spark.tables import EVENT_TYPES

    states = " UNION ALL ".join(f"SELECT '{s}' AS s" for s in EVENT_TYPES)
    ctes = [f"""ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus, event_id FROM events
), trans AS (
  SELECT f, t FROM (
    SELECT event_type AS f,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY tus, event_id) AS t
    FROM ev)
  WHERE t IS NOT NULL AND f != '{_ABS_TARGET}'
), m AS (
  SELECT f, t, CAST(count(*) AS BIGINT) AS c FROM trans GROUP BY 1, 2
), ftot AS (
  SELECT f, CAST(sum(c) AS BIGINT) AS cf FROM m GROUP BY 1
), states AS ({states}),
v0 AS (
  SELECT s, CAST(CASE WHEN s = '{_ABS_TARGET}' THEN 1000000 ELSE 0 END
                 AS BIGINT) AS v
  FROM states
)"""]
    prev = "v0"
    for r in range(1, _ABS_ROUNDS + 1):
        ctes.append(f"""v{r} AS (
  SELECT st.s,
         CAST(CASE WHEN st.s = '{_ABS_TARGET}' THEN 1000000
                   ELSE COALESCE(x.v, 0) END AS BIGINT) AS v
  FROM states st
  LEFT JOIN (
    SELECT m.f AS s, CAST(sum(m.c * p.v) AS BIGINT) // ft.cf AS v
    FROM m JOIN {prev} p ON m.t = p.s
    JOIN ftot ft ON m.f = ft.f
    GROUP BY m.f, ft.cf
  ) x ON st.s = x.s
)""")
        prev = f"v{r}"
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT s AS state, v AS p_absorb_e6 FROM {prev}\n")


QUERIES["absorption_to_purchase"] = (absorption_to_purchase,
                                     _absorption_sql())


# ---------------------------------------------------------------------------
# New vs returning users per day (+ cumulative acquisition curve)
# ---------------------------------------------------------------------------


def new_vs_returning_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience decomposition: per epoch-day, distinct active
    users split into first-ever-seen (new) vs returning, plus the
    running cumulative user count — the acquisition/retention curve
    every growth dashboard opens with, and the audited denominator
    behind ``rolling_active_users``.

    Determinism: days from integer epoch arithmetic (CLAUDE.md dow
    rule), everything else exact counts; the cumulative sum is a
    window over the tiny day table.

    Scale: one (day, user) dedup shuffle, one (user) min-day
    aggregation (both map-side combinable), then day-keyed counts;
    the only window runs over |days| rows. The (day,user) distinct is
    the same state a streaming DAU would keep — at 100 TB that
    shuffle carries 16 bytes/row and everything downstream is
    |days|- or |users|-sized.
    """
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         .alias("day"), "user_id")
    du = ev.distinct()
    active = du.groupBy("day").agg(F.count(F.lit(1)).alias("n_active"))
    first = du.groupBy("user_id").agg(F.min("day").alias("day"))
    new = first.groupBy("day").agg(F.count(F.lit(1)).alias("n_new"))
    joined = (active.join(new, "day", "left")
              .select("day", "n_active",
                      F.coalesce("n_new", F.lit(0)).alias("n_new")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return joined.select(
        "day", "n_active", "n_new",
        (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        F.sum("n_new").over(w).alias("cum_users"))


_NEW_RET_SQL = """
WITH du AS (
    SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
    FROM events
),
active AS (SELECT day, CAST(count(*) AS BIGINT) AS n_active
           FROM du GROUP BY day),
first_seen AS (SELECT user_id, min(day) AS day FROM du GROUP BY user_id),
new_u AS (SELECT day, CAST(count(*) AS BIGINT) AS n_new
          FROM first_seen GROUP BY day),
joined AS (
    SELECT a.day, a.n_active, coalesce(n.n_new, 0) AS n_new
    FROM active a LEFT JOIN new_u n USING (day)
)
SELECT day, n_active, n_new,
       n_active - n_new AS n_returning,
       CAST(sum(n_new) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM joined
"""

QUERIES["new_vs_returning_users"] = (new_vs_returning_users, _NEW_RET_SQL)


# ---------------------------------------------------------------------------
# Per-state transition entropy (predictability of the behavior chain)
# ---------------------------------------------------------------------------


def transition_entropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-transition entropy per event type over the same consecutive
    pairs ``event_transition_matrix`` counts: H(from) =
    Σ p(to|from)·ln(1/p) in e6 nats plus the effective branching
    factor ceil-free perplexity proxy — the predictability readout
    that ranks states by how much information the next step carries
    (an anomaly detector watches exactly these numbers drift).

    Determinism: the quantized-ln recipe — lnq = round(1e6·ln(n_from/
    n)) on exact integer rationals, then H = Σ n·lnq div n_from in
    pure int64.

    Scale: one user-keyed window pass (shared shape with the
    transition matrix), then |types|²-row arithmetic. Nothing else.
    """
    ev = load(spark, sf_dir, "events") \
        .select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select(F.col("event_type").alias("from_type"),
                       F.lead("event_type").over(w).alias("to_type"))
             .where(F.col("to_type").isNotNull()))
    counts = pairs.groupBy("from_type", "to_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    counts = counts.withColumn(
        "n_from", F.sum("n").over(Window.partitionBy("from_type")))
    counts = counts.withColumn(
        "lnq", F.round(F.lit(1_000_000)
                       * F.log(F.col("n_from") / F.col("n")), 0)
                .cast("long"))
    return (counts.groupBy("from_type")
            .agg(F.max("n_from").alias("n_from"),
                 F.count(F.lit(1)).alias("n_successors"),
                 F.expr("sum(n * lnq) div max(n_from)")
                  .alias("entropy_e6")))


_TRANS_ENTROPY_SQL = """
WITH pairs AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
    FROM pairs WHERE to_type IS NOT NULL
    GROUP BY from_type, to_type
),
with_tot AS (
    SELECT from_type, to_type, n,
           CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS n_from
    FROM counts
)
SELECT from_type,
       CAST(max(n_from) AS BIGINT) AS n_from,
       CAST(count(*) AS BIGINT) AS n_successors,
       CAST(sum(n * CAST(round(1000000 * ln(n_from / n), 0) AS BIGINT))
            AS BIGINT) // max(n_from) AS entropy_e6
FROM with_tot GROUP BY from_type
"""

QUERIES["transition_entropy_profile"] = (transition_entropy_profile,
                                         _TRANS_ENTROPY_SQL)


# ---------------------------------------------------------------------------
# Interarrival burstiness per event type
# ---------------------------------------------------------------------------


def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of each event type's arrival process: per type, the
    interarrival-gap count/mean/variance (integer seconds) and the
    Goh–Barabási burstiness B = (σ−μ)/(σ+μ) — B≈−1 periodic, 0
    Poisson, →1 heavy-tailed bursts. The capacity-planning number: a
    type with the same mean rate but B→1 needs several× the Poisson
    provisioning, and a drift in B flags pipeline stalls that rate
    monitors miss.

    Determinism: gaps are integer-second differences of epoch micros
    (integer div); sums and sum-of-squares are exact int64 (headroom:
    gap ≤ 2.6e6 s per 30-day window → gap² ≤ 7e12, safe to ~1e6 gaps
    per type; longer horizons drop to minute granularity); μ, σ², B
    are fixed IEEE expressions over those exact ints, sqrt is
    correctly rounded, so rounds match.

    Scale: one type-keyed window pass for the lag (types are few —
    real deployments sub-key by (type, shard) and merge the exact
    sums, which these stats allow), one 5-row aggregate.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"))
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (ev.withColumn("prev", F.lag("us").over(w))
            .where(F.col("prev").isNotNull())
            .select("event_type",
                    F.expr("(us - prev) div 1000000").alias("gap_s")))
    agg = gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_s").alias("s"),
        F.sum(F.col("gap_s") * F.col("gap_s")).alias("ss"))
    mean = F.col("s") / F.col("n_gaps")
    var = F.col("ss") / F.col("n_gaps") \
        - (F.col("s") / F.col("n_gaps")) * (F.col("s") / F.col("n_gaps"))
    sd = F.sqrt(var)
    return agg.select(
        "event_type", "n_gaps",
        F.round(mean, 4).alias("mean_gap_s"),
        F.round(var, 4).alias("var_gap_s"),
        # + 0.0 canonicalizes IEEE -0.0 (engines round -2.5e-5 to
        # differently-signed zeros, which scrambles the row sort)
        (F.round((sd - mean) / (sd + mean), 4) + F.lit(0.0))
        .alias("burstiness"))


_BURSTINESS_SQL = """
WITH ev AS (
    SELECT event_type, ts, event_id, epoch_us(ts) AS us FROM events
),
gaps AS (
    SELECT event_type,
           (us - lag(us) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id)) // 1000000 AS gap_s
    FROM ev
),
agg AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_s) AS BIGINT) AS s,
           CAST(sum(gap_s * gap_s) AS BIGINT) AS ss
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
)
SELECT event_type, n_gaps,
       round(s / n_gaps, 4) AS mean_gap_s,
       round(ss / n_gaps - (s / n_gaps) * (s / n_gaps), 4) AS var_gap_s,
       round((sqrt(ss / n_gaps - (s / n_gaps) * (s / n_gaps)) - s / n_gaps)
             / (sqrt(ss / n_gaps - (s / n_gaps) * (s / n_gaps))
                + s / n_gaps), 4) + 0.0 AS burstiness
FROM agg
"""

QUERIES["interarrival_burstiness"] = (interarrival_burstiness,
                                      _BURSTINESS_SQL)


# ---------------------------------------------------------------------------
# Exponentially time-decayed leaderboard (exact dyadic decay)
# ---------------------------------------------------------------------------
DECAY_TOPK = 10


def decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-user leaderboard under exponential time decay with a
    one-day half-life: each event contributes 2^(−age_days), so
    yesterday's activity counts half of today's — the freshness-
    weighted ranking behind every "trending now" surface, chosen over
    a sliding window because it never forgets abruptly and its state
    merges associatively (the streaming twin keeps one running sum +
    last-updated day per user).

    Determinism: ages are integer days, so every contribution is an
    EXACT power of two and every partial sum is an exact dyadic
    rational (lsb 2⁻²⁹, magnitude < 2¹⁸ → 47 significand bits) —
    addition never rounds, in ANY order, in either engine; the final
    top-k ties break on user_id.

    Scale: one map-side-combinable (user)-keyed sum; the top-k window
    is rank ≤ k over an unpartitioned ordering, which Spark executes
    as WindowGroupLimit (per-partition k then a k·partitions merge) —
    no global sort of the user table materializes.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         .alias("day"))
    maxd = ev.agg(F.max("day").alias("maxd"))
    scored = (ev.crossJoin(F.broadcast(maxd))
              .groupBy("user_id")
              .agg(F.count(F.lit(1)).alias("n_events"),
                   F.sum(F.pow(F.lit(0.5), F.col("maxd") - F.col("day")))
                    .alias("score")))
    w = Window.orderBy(F.desc("score"), F.asc("user_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= DECAY_TOPK)
            .select(F.col("rank").cast("int").alias("rank"), "user_id",
                    "n_events", F.round("score", 6).alias("score")))


_DECAY_SQL = f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
maxd AS (SELECT max(day) AS maxd FROM ev),
scored AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           sum(pow(0.5, maxd - day)) AS score
    FROM ev CROSS JOIN maxd
    GROUP BY user_id
),
ranked AS (
    SELECT user_id, n_events, score,
           row_number() OVER (ORDER BY score DESC, user_id ASC) AS rank
    FROM scored
)
SELECT CAST(rank AS INT) AS rank, user_id, n_events,
       round(score, 6) AS score
FROM ranked WHERE rank <= {DECAY_TOPK}
"""

QUERIES["decayed_leaderboard"] = (decayed_leaderboard, _DECAY_SQL)


# --------------------------------------------------------------------------
# Off-policy evaluation: IPS / SNIPS replay over logged events
# --------------------------------------------------------------------------
def ips_offline_policy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counterfactual evaluation of a target recommendation policy
    from LOGGED interaction data — the estimator a recsys/training
    pipeline runs before any A/B test: events log (context =
    event_type, action = props.k, reward = value); the logging
    propensity of action k in context t is its empirical frequency
    cnt_tk / N_t; the target policy deterministically plays
    k = user_id % 100. Reports, per context, the inverse-propensity-
    scored (IPS) and self-normalized (SNIPS) reward estimates next to
    the on-policy logged mean — the difference is the estimated lift
    of switching policies, and SNIPS≠IPS flags propensity skew.
    Output: (event_type, n_logged, n_matched, logged_mean_c,
    ips_value_c, snips_value_c).

    Determinism: rewards are exact cents; the estimator is DEFINED in
    floor-per-term integer semantics — w = (1e6·N_t) div cnt_tk,
    IPS = (Σ r_c·N_t div cnt_tk) div N_t, SNIPS = (Σ r_c·w) div (Σ w)
    — so both engines compute identical integers. int64 headroom:
    r_c·N_t ≤ 5e4·N_t and Σ r_c·w ≤ n_matched·5e4·1e6·max_skew — safe
    to ~1e8 matched rows per context; renormalize w past that.

    Scale: one scan; per-(context, action) counts are map-side
    combinable (≤ 500 groups), joined back broadcast; the final rollup
    is per-context. No shuffle touches the raw log beyond the one
    (type, k) aggregate — the replay-match filter rides the scan.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("r_c"))
    prop = (ev.groupBy("event_type", "k")
            .agg(F.count(F.lit(1)).alias("cnt")))
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"),
                                       F.sum("r_c").alias("sum_r"))
    j = (ev.join(F.broadcast(prop), ["event_type", "k"])
         .join(F.broadcast(tot), "event_type")
         .withColumn("matched",
                     (F.col("k") == F.col("user_id") % 100).cast("long")))
    return (j.groupBy("event_type")
            .agg(F.max("n_t").alias("n_logged"),
                 F.sum("matched").alias("n_matched"),
                 F.expr("max(sum_r) div max(n_t)").alias("logged_mean_c"),
                 F.expr("sum(matched * ((r_c * n_t) div cnt)) div max(n_t)")
                  .alias("ips_value_c"),
                 F.expr("sum(matched * r_c * ((1000000 * n_t) div cnt))"
                        " div greatest(sum(matched *"
                        " ((1000000 * n_t) div cnt)), 1)")
                  .alias("snips_value_c")))


_IPS_SQL = """
WITH ev AS (
    SELECT event_type, user_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(round(value * 100, 0) AS BIGINT) AS r_c
    FROM events
),
prop AS (
    SELECT event_type, k, count(*) AS cnt
    FROM ev GROUP BY 1, 2
),
tot AS (
    SELECT event_type, count(*) AS n_t,
           CAST(sum(r_c) AS BIGINT) AS sum_r
    FROM ev GROUP BY 1
),
j AS (
    SELECT ev.event_type, ev.r_c, prop.cnt, tot.n_t, tot.sum_r,
           CASE WHEN ev.k = ev.user_id % 100 THEN 1 ELSE 0 END AS matched
    FROM ev
    JOIN prop ON ev.event_type = prop.event_type AND ev.k = prop.k
    JOIN tot ON ev.event_type = tot.event_type
)
SELECT event_type,
       max(n_t) AS n_logged,
       CAST(sum(matched) AS BIGINT) AS n_matched,
       max(sum_r) // max(n_t) AS logged_mean_c,
       CAST(sum(matched * ((r_c * n_t) // cnt)) AS BIGINT) // max(n_t)
           AS ips_value_c,
       CAST(sum(matched * r_c * ((1000000 * n_t) // cnt)) AS BIGINT)
           // greatest(CAST(sum(matched * ((1000000 * n_t) // cnt))
                            AS BIGINT), 1) AS snips_value_c
FROM j GROUP BY event_type
"""

QUERIES["ips_offline_policy_eval"] = (ips_offline_policy_eval, _IPS_SQL)


# --------------------------------------------------------------------------
# Markov next-event prediction accuracy (train/test behavioral model)
# --------------------------------------------------------------------------
def markov_next_event_accuracy(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Trains the ``event_transition_matrix`` model on 80% of USERS
    (user_id % 5 != 0) and scores it on the held-out 20%: predict each
    held-out transition's next event as the train-split argmax
    P(to | from), report per-prior-state accuracy against the majority-
    class baseline P(globally-most-common next). The train/serve split
    is what turns the descriptive matrix into an evaluated predictive
    model — the same train-on-split, confusion-on-holdout shape as
    ``naive_bayes_confusion``, over sequences. Output: (from_type,
    n_test, n_correct, accuracy_e6, baseline_e6).

    Determinism: transitions order by (ts, event_id); the argmax
    breaks count ties by event_type (struct-min on (−n, to_type));
    accuracies are integer e6 div. Splitting by USER keeps sequences
    intact (no transition straddles the split).

    Scale: one lead-window pass per split over the user-keyed shuffle,
    aggregates bounded by |types|² = 25 rows, broadcast model join —
    the corpus shuffles once.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # pairs feeds four plan branches (counts, model, base, scored):
    # persist or the lead-window pass re-executes per branch
    # (CLAUDE.md multi-branch hazard)
    pairs = persist(ev.select("user_id",
                              F.col("event_type").alias("from_type"),
                              F.lead("event_type").over(w).alias("to_type"))
                    .where(F.col("to_type").isNotNull()))
    train = pairs.where(F.col("user_id") % 5 != 0)
    test = pairs.where(F.col("user_id") % 5 == 0)
    counts = (train.groupBy("from_type", "to_type")
              .agg(F.count(F.lit(1)).alias("n")))
    model = (counts.groupBy("from_type")
             .agg(F.min(F.struct((-F.col("n")).alias("negn"),
                                 F.col("to_type").alias("t")))
                  .getField("t").alias("pred_type")))
    # majority next-event over ALL train transitions (the baseline)
    base = (train.groupBy("to_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.min(F.struct((-F.col("n")).alias("negn"),
                                F.col("to_type").alias("t")))
                 .getField("t").alias("base_type")))
    scored = (test.join(F.broadcast(model), "from_type")
              .crossJoin(F.broadcast(base)))
    return (scored.groupBy("from_type")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 F.sum((F.col("to_type") == F.col("pred_type"))
                       .cast("long")).alias("n_correct"),
                 F.expr("(1000000 * sum(cast(to_type = pred_type as long)))"
                        " div count(*)").alias("accuracy_e6"),
                 F.expr("(1000000 * sum(cast(to_type = base_type as long)))"
                        " div count(*)").alias("baseline_e6")))


_MARKOV_EVAL_SQL = """
WITH pairs AS (
    SELECT user_id, event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
train AS (SELECT * FROM pairs WHERE to_type IS NOT NULL
          AND user_id % 5 <> 0),
test AS (SELECT * FROM pairs WHERE to_type IS NOT NULL
         AND user_id % 5 = 0),
counts AS (SELECT from_type, to_type, count(*) AS n
           FROM train GROUP BY 1, 2),
model AS (
    SELECT from_type,
           (min(struct_pack(negn := -n, t := to_type))).t AS pred_type
    FROM counts GROUP BY from_type
),
base AS (
    SELECT (min(struct_pack(negn := -n, t := to_type))).t AS base_type
    FROM (SELECT to_type, count(*) AS n FROM train GROUP BY 1)
)
SELECT t.from_type, count(*) AS n_test,
       CAST(sum(CASE WHEN t.to_type = m.pred_type THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       (1000000 * CAST(sum(CASE WHEN t.to_type = m.pred_type
                                THEN 1 ELSE 0 END) AS BIGINT))
           // count(*) AS accuracy_e6,
       (1000000 * CAST(sum(CASE WHEN t.to_type = b.base_type
                                THEN 1 ELSE 0 END) AS BIGINT))
           // count(*) AS baseline_e6
FROM test t JOIN model m USING (from_type) CROSS JOIN base b
GROUP BY t.from_type
"""

QUERIES["markov_next_event_accuracy"] = (markov_next_event_accuracy,
                                         _MARKOV_EVAL_SQL)


# --------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) check for hash-bucketed experiments
# --------------------------------------------------------------------------
# chi-square(df=1) critical value at alpha = 0.05, e6 fixed point —
# shared literal, so no transcendental runs in either engine
_SRM_CRIT_E6 = 3_841_459


def srm_assignment_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first health check every A/B platform runs before reading
    any metric: does the 50/50 hash assignment (user_id % 2) actually
    split users 50/50, overall and within each event-type segment? A
    significant chi-square goodness-of-fit here (SRM) means the
    bucketing is biased or the logging drops one arm — and every
    downstream metric is garbage. ``ab_test_ztest`` compares OUTCOMES
    between arms; this validates the DENOMINATORS. Output: (segment,
    n_users, arm_a, arm_b, chi2_e6, srm_flag).

    Determinism: with expected = n/2 the GOF statistic collapses to
    (a−b)²/n — one integer e6 div; the flag compares against the
    shared literal critical value 3.841459. Users are counted once per
    segment (distinct over the 16-byte user key space is exact).

    Scale: one scan → per-(segment, user) dedup (keyed shuffle,
    map-side combinable) → ≤ |types|+1 output rows. The overall row
    dedups users across types in the same pass via a union tag.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type")
    tagged = (ev.select(F.col("event_type").alias("segment"), "user_id")
              .unionByName(ev.select(F.lit("overall").alias("segment"),
                                     "user_id")))
    users = tagged.distinct().withColumn("arm", F.col("user_id") % 2)
    return (users.groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum((F.col("arm") == 0).cast("long")).alias("arm_a"),
                 F.sum((F.col("arm") == 1).cast("long")).alias("arm_b"))
            .withColumn("chi2_e6",
                        F.expr("(1000000 * (arm_a - arm_b)"
                               " * (arm_a - arm_b)) div n_users"))
            .withColumn("srm_flag", F.col("chi2_e6") > _SRM_CRIT_E6))


_SRM_SQL = f"""
WITH tagged AS (
    SELECT event_type AS segment, user_id FROM events
    UNION ALL
    SELECT 'overall' AS segment, user_id FROM events
),
users AS (SELECT DISTINCT segment, user_id FROM tagged),
arms AS (
    SELECT segment, count(*) AS n_users,
           CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS arm_a,
           CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS arm_b
    FROM users GROUP BY segment
)
SELECT segment, n_users, arm_a, arm_b,
       (1000000 * (arm_a - arm_b) * (arm_a - arm_b)) // n_users
           AS chi2_e6,
       (1000000 * (arm_a - arm_b) * (arm_a - arm_b)) // n_users
           > {_SRM_CRIT_E6} AS srm_flag
FROM arms
"""

QUERIES["srm_assignment_check"] = (srm_assignment_check, _SRM_SQL)


# --------------------------------------------------------------------------
# Two-model uplift by engagement band
# --------------------------------------------------------------------------
def uplift_by_engagement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effect readout: with the SRM-checked
    50/50 assignment (user_id % 2) as treatment, purchase conversion
    as outcome, and engagement band (total events div 10) as the
    segmentation feature, reports the per-band conversion difference
    p_treat − p_ctrl — the "two-model" uplift table a targeting team
    reads to find WHERE a treatment works, after ``ab_test_ztest``
    says IT works on average and ``srm_assignment_check`` validates
    the denominators. Output: (band, n_treat, n_ctrl, conv_treat,
    conv_ctrl, p_treat_e6, p_ctrl_e6, uplift_e6).

    Determinism: conversion rates are integer e6 div of exact counts;
    uplift is a difference of two such ints (may be negative — pure
    subtraction, no negative-operand division anywhere). Bands are
    integer div of event counts.

    Scale: one user-keyed aggregate over the scan (map-side
    combinable), then a band rollup over a user-count-sized frame —
    output rows bounded by the band domain.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    users = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.max((F.col("event_type") == "purchase").cast("long"))
                   .alias("converted"))
             .select(F.expr("n_events div 10").alias("band"),
                     (F.col("user_id") % 2 == 0).alias("treat"),
                     "converted"))
    return (users.groupBy("band")
            .agg(F.sum(F.col("treat").cast("long")).alias("n_treat"),
                 F.sum((~F.col("treat")).cast("long")).alias("n_ctrl"),
                 F.sum(F.when(F.col("treat"), F.col("converted"))
                        .otherwise(0)).alias("conv_treat"),
                 F.sum(F.when(~F.col("treat"), F.col("converted"))
                        .otherwise(0)).alias("conv_ctrl"))
            .withColumn("p_treat_e6",
                        F.expr("(1000000 * conv_treat)"
                               " div greatest(n_treat, 1)"))
            .withColumn("p_ctrl_e6",
                        F.expr("(1000000 * conv_ctrl)"
                               " div greatest(n_ctrl, 1)"))
            .withColumn("uplift_e6",
                        F.col("p_treat_e6") - F.col("p_ctrl_e6")))


_UPLIFT_SQL = """
WITH users AS (
    SELECT count(*) // 10 AS band,
           user_id % 2 = 0 AS treat,
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
    FROM events GROUP BY user_id
),
bands AS (
    SELECT band,
           CAST(sum(CASE WHEN treat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_treat,
           CAST(sum(CASE WHEN NOT treat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ctrl,
           CAST(sum(CASE WHEN treat THEN converted ELSE 0 END) AS BIGINT)
               AS conv_treat,
           CAST(sum(CASE WHEN NOT treat THEN converted ELSE 0 END)
                AS BIGINT) AS conv_ctrl
    FROM users GROUP BY band
)
SELECT band, n_treat, n_ctrl, conv_treat, conv_ctrl,
       (1000000 * conv_treat) // greatest(n_treat, 1) AS p_treat_e6,
       (1000000 * conv_ctrl) // greatest(n_ctrl, 1) AS p_ctrl_e6,
       (1000000 * conv_treat) // greatest(n_treat, 1)
           - (1000000 * conv_ctrl) // greatest(n_ctrl, 1) AS uplift_e6
FROM bands
"""

QUERIES["uplift_by_engagement"] = (uplift_by_engagement, _UPLIFT_SQL)


# --------------------------------------------------------------------------
# Purged (embargoed) time-series cross-validation audit
# --------------------------------------------------------------------------
_PURGE_FOLDS = 5
_EMBARGO_DAYS = 1


def purged_timeseries_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe time-series CV accounting (de Prado's purged
    k-fold): the event range splits into {k} contiguous day blocks;
    for each fold, training data is everything OUTSIDE the test block
    minus a ±{e}-day embargo around it — the rows an autocorrelated
    feature (rolling means, EWMAs) would leak through.
    ``split_leakage_check`` audits CONTENT leakage between splits;
    this audits TEMPORAL leakage, and its n_purged column is the
    price paid. Output per fold: (fold, lo_day, hi_day, n_test,
    n_train_raw, n_purged, n_train_clean).

    Determinism: days are integer epoch arithmetic
    (unix_micros div 86.4e9, the CLAUDE.md idiom); block bounds are
    exact int div of the observed day span; every count is exact.

    Scale: one scan computes each event's day; the fold audit
    replicates rows ×{k} scan-side (bounded, folds are a constant)
    against broadcast bounds and aggregates map-side to {k} rows.
    """.format(k=_PURGE_FOLDS, e=_EMBARGO_DAYS)
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         .alias("day"))
    bounds = F.broadcast(ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")))
    folded = (ev.crossJoin(bounds)
              .withColumn("blk", F.expr(
                  f"(d1 - d0 + {_PURGE_FOLDS}) div {_PURGE_FOLDS}"))
              .select("day", "d0", "blk",
                      F.explode(F.sequence(
                          F.lit(0), F.lit(_PURGE_FOLDS - 1))).alias("fold"))
              .withColumn("lo", F.col("d0") + F.col("fold") * F.col("blk"))
              .withColumn("hi", F.col("lo") + F.col("blk") - 1))
    in_test = (F.col("day") >= F.col("lo")) & (F.col("day") <= F.col("hi"))
    in_embargo = (~in_test
                  & (F.col("day") >= F.col("lo") - _EMBARGO_DAYS)
                  & (F.col("day") <= F.col("hi") + _EMBARGO_DAYS))
    return (folded.groupBy("fold")
            .agg(F.max("lo").alias("lo_day"),
                 F.max("hi").alias("hi_day"),
                 F.sum(in_test.cast("long")).alias("n_test"),
                 F.sum((~in_test).cast("long")).alias("n_train_raw"),
                 F.sum(in_embargo.cast("long")).alias("n_purged"),
                 F.sum((~in_test & ~in_embargo).cast("long"))
                  .alias("n_train_clean")))


_PURGED_SQL = f"""
WITH ev AS (
    SELECT epoch_us(ts) // 86400000000 AS day FROM events
),
bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
folded AS (
    SELECT ev.day, b.d0,
           (b.d1 - b.d0 + {_PURGE_FOLDS}) // {_PURGE_FOLDS} AS blk,
           f.fold
    FROM ev
    CROSS JOIN bounds b
    CROSS JOIN (SELECT unnest(range(0, {_PURGE_FOLDS})) AS fold) f
),
marked AS (
    SELECT fold, day,
           d0 + fold * blk AS lo,
           d0 + fold * blk + blk - 1 AS hi
    FROM folded
)
SELECT fold,
       max(lo) AS lo_day, max(hi) AS hi_day,
       CAST(sum(CASE WHEN day BETWEEN lo AND hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN day NOT BETWEEN lo AND hi THEN 1 ELSE 0 END)
            AS BIGINT) AS n_train_raw,
       CAST(sum(CASE WHEN day NOT BETWEEN lo AND hi
                      AND day BETWEEN lo - {_EMBARGO_DAYS}
                              AND hi + {_EMBARGO_DAYS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_purged,
       CAST(sum(CASE WHEN day NOT BETWEEN lo - {_EMBARGO_DAYS}
                              AND hi + {_EMBARGO_DAYS}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_train_clean
FROM marked GROUP BY fold
"""

QUERIES["purged_timeseries_split"] = (purged_timeseries_split, _PURGED_SQL)


# --------------------------------------------------------------------------
# At-least-once replay idempotency audit
# --------------------------------------------------------------------------
def exactly_once_dedup_replay(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Batch-queryable statement of the streaming layer's idempotency
    contract (streaming/curation.py): simulate at-least-once delivery
    by re-appending every event_id % 7 == 3 as a batch-1 redelivery,
    dedup by event_id keeping the FIRST batch, and assert the result
    equals the clean stream — per event type, with the value mass
    (cents) conserved exactly. A consumer reads dedup_ok/value_ok ==
    true per row; any false means replay would double-count. Output:
    (event_type, n_original, n_redelivered, n_after_dedup,
    value_c_original, value_c_after, dedup_ok, value_ok).

    Determinism: duplicate selection is modular arithmetic; dedup is
    min-batch-per-event_id (exact); value mass is exact cents.

    Scale: the dedup is one event_id-keyed aggregate over the
    replayed stream (map-side combinable); comparisons are per-type
    rollups. This is the same OVERWRITE-batch idempotency law the
    streaming tests replay, expressed as one auditable query.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("v_c"))
    replay = (ev.withColumn("batch", F.lit(0))
              .unionByName(ev.where(F.col("event_id") % 7 == 3)
                           .withColumn("batch", F.lit(1))))
    deduped = (replay.groupBy("event_id", "event_type", "v_c")
               .agg(F.min("batch").alias("first_batch")))
    orig = (ev.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_original"),
                 F.sum("v_c").alias("value_c_original")))
    red = (replay.where(F.col("batch") == 1).groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_redelivered")))
    after = (deduped.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n_after_dedup"),
                  F.sum("v_c").alias("value_c_after")))
    return (orig.join(red, "event_type", "left")
            .join(after, "event_type")
            .select("event_type", "n_original",
                    F.coalesce("n_redelivered", F.lit(0))
                     .alias("n_redelivered"),
                    "n_after_dedup", "value_c_original", "value_c_after",
                    (F.col("n_after_dedup") == F.col("n_original"))
                    .alias("dedup_ok"),
                    (F.col("value_c_after") == F.col("value_c_original"))
                    .alias("value_ok")))


_REPLAY_SQL = """
WITH ev AS (
    SELECT event_id, event_type,
           CAST(round(value * 100, 0) AS BIGINT) AS v_c
    FROM events
),
replay AS (
    SELECT event_id, event_type, v_c, 0 AS batch FROM ev
    UNION ALL
    SELECT event_id, event_type, v_c, 1 AS batch FROM ev
    WHERE event_id % 7 = 3
),
deduped AS (
    SELECT event_id, event_type, v_c, min(batch) AS first_batch
    FROM replay GROUP BY 1, 2, 3
),
orig AS (
    SELECT event_type, count(*) AS n_original,
           CAST(sum(v_c) AS BIGINT) AS value_c_original
    FROM ev GROUP BY 1
),
red AS (
    SELECT event_type, count(*) AS n_redelivered
    FROM replay WHERE batch = 1 GROUP BY 1
),
after AS (
    SELECT event_type, count(*) AS n_after_dedup,
           CAST(sum(v_c) AS BIGINT) AS value_c_after
    FROM deduped GROUP BY 1
)
SELECT o.event_type, o.n_original,
       coalesce(r.n_redelivered, 0) AS n_redelivered,
       a.n_after_dedup, o.value_c_original, a.value_c_after,
       a.n_after_dedup = o.n_original AS dedup_ok,
       a.value_c_after = o.value_c_original AS value_ok
FROM orig o
LEFT JOIN red r USING (event_type)
JOIN after a USING (event_type)
"""

QUERIES["exactly_once_dedup_replay"] = (exactly_once_dedup_replay,
                                        _REPLAY_SQL)


# ---------------------------------------------------------------------------
# CUPED variance reduction (pre-period covariate adjustment)
# ---------------------------------------------------------------------------

_CUPED_PRE_DAYS = 15


def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED — the variance-reduction technique every large experiment
    platform applies before reading an A/B result: regress the
    post-period metric on each user's PRE-period activity (theta =
    cov(X,Y)/var(X)), subtract theta*X, and report both the adjusted
    treatment effect and the variance reduction rho^2 the adjustment
    buys. Arms are the platform's user_id % 2 assignment
    (srm_assignment_check validates it). Output one row: (n_users,
    n_t, n_c, theta_e6, delta_raw_e6, delta_cuped_e6,
    var_reduction_e6).

    Determinism: X is an exact event count, Y exact milli-value sums;
    theta's numerator/denominator are int64 cross-moments (exact to
    ~2^63; per-user milli sums keep n*syy inside int64 to ~1e18 —
    headroom noted); rho^2 casts each exact moment to double FIRST and
    evaluates one identical expression string in both engines (every
    moment < 2^53, so the casts are exact and the arithmetic identical
    IEEE); deltas are floored e6 of double expressions over exact
    sums — floor, never int-cast, they can be negative.

    Scale: one corpus scan for the day bounds (1 column), one for the
    per-user reduction (keyed shuffle, map-side combinable), then a
    single global aggregate producing all arm-conditional moments in
    one pass. Nothing else moves.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(cast(ts as timestamp))"
                          " div 86400000000").alias("day"),
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"))
    bounds = ev.agg(F.min("day").alias("mind"))
    per_user = (ev.crossJoin(F.broadcast(bounds))
                .groupBy("user_id")
                .agg(F.sum(F.expr(f"case when day < mind +"
                                  f" {_CUPED_PRE_DAYS} then 1 else 0"
                                  f" end")).alias("x"),
                     F.sum(F.expr(f"case when day >= mind +"
                                  f" {_CUPED_PRE_DAYS} then vm else 0"
                                  f" end")).alias("y"))
                .withColumn("arm", F.col("user_id") % 2))
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.expr("case when arm = 0 then 1 else 0 end")).alias("nc"),
        F.sum(F.expr("case when arm = 0 then x else 0 end")).alias("sxc"),
        F.sum(F.expr("case when arm = 0 then y else 0 end")).alias("syc"),
        F.sum(F.expr("case when arm = 1 then 1 else 0 end")).alias("nt"),
        F.sum(F.expr("case when arm = 1 then x else 0 end")).alias("sxt"),
        F.sum(F.expr("case when arm = 1 then y else 0 end")).alias("syt"))
    theta = ("(cast(n * sxy - sx * sy as double)"
             " / cast(greatest(n * sxx - sx * sx, 1) as double))")
    rho2 = ("((cast(n as double) * cast(sxy as double)"
            "  - cast(sx as double) * cast(sy as double))"
            " * (cast(n as double) * cast(sxy as double)"
            "    - cast(sx as double) * cast(sy as double)))"
            " / greatest((cast(n as double) * cast(sxx as double)"
            "    - cast(sx as double) * cast(sx as double))"
            " * (cast(n as double) * cast(syy as double)"
            "    - cast(sy as double) * cast(sy as double)), 1.0)")
    d_raw = ("(cast(syt as double) / nt - cast(syc as double) / nc)"
             " / 1000.0")
    d_adj = (f"((cast(syt as double) / nt - {theta}"
             f" * (cast(sxt as double) / nt))"
             f" - (cast(syc as double) / nc - {theta}"
             f" * (cast(sxc as double) / nc))) / 1000.0")
    return m.select(
        F.col("n").alias("n_users"), F.col("nt").alias("n_t"),
        F.col("nc").alias("n_c"),
        F.expr(f"cast(floor(1000000.0 * {theta}) as bigint)")
         .alias("theta_e6"),
        F.expr(f"cast(floor(1000000.0 * ({d_raw})) as bigint)")
         .alias("delta_raw_e6"),
        F.expr(f"cast(floor(1000000.0 * ({d_adj})) as bigint)")
         .alias("delta_cuped_e6"),
        F.expr(f"cast(floor(1000000.0 * ({rho2})) as bigint)")
         .alias("var_reduction_e6"))


def _cuped_sql() -> str:
    theta = ("(cast(n * sxy - sx * sy as double)"
             " / cast(greatest(n * sxx - sx * sx, 1) as double))")
    rho2 = ("((cast(n as double) * cast(sxy as double)"
            "  - cast(sx as double) * cast(sy as double))"
            " * (cast(n as double) * cast(sxy as double)"
            "    - cast(sx as double) * cast(sy as double)))"
            " / greatest((cast(n as double) * cast(sxx as double)"
            "    - cast(sx as double) * cast(sx as double))"
            " * (cast(n as double) * cast(syy as double)"
            "    - cast(sy as double) * cast(sy as double)), 1.0)")
    d_raw = ("(cast(syt as double) / nt - cast(syc as double) / nc)"
             " / 1000.0")
    d_adj = (f"((cast(syt as double) / nt - {theta}"
             f" * (cast(sxt as double) / nt))"
             f" - (cast(syc as double) / nc - {theta}"
             f" * (cast(sxc as double) / nc))) / 1000.0")
    return f"""
WITH ev AS (
    SELECT user_id, epoch_us(ts) // 86400000000 AS day,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm
    FROM events
),
bounds AS (SELECT min(day) AS mind FROM ev),
per_user AS (
    SELECT user_id,
           CAST(sum(CASE WHEN day < mind + {_CUPED_PRE_DAYS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN day >= mind + {_CUPED_PRE_DAYS}
                         THEN vm ELSE 0 END) AS BIGINT) AS y,
           user_id % 2 AS arm
    FROM ev CROSS JOIN bounds GROUP BY user_id
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
           CAST(sum(CASE WHEN arm = 0 THEN x ELSE 0 END) AS BIGINT)
               AS sxc,
           CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               AS syc,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS nt,
           CAST(sum(CASE WHEN arm = 1 THEN x ELSE 0 END) AS BIGINT)
               AS sxt,
           CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               AS syt
    FROM per_user
)
SELECT n AS n_users, nt AS n_t, nc AS n_c,
       CAST(floor(1000000.0 * {theta}) AS BIGINT) AS theta_e6,
       CAST(floor(1000000.0 * ({d_raw})) AS BIGINT) AS delta_raw_e6,
       CAST(floor(1000000.0 * ({d_adj})) AS BIGINT) AS delta_cuped_e6,
       CAST(floor(1000000.0 * ({rho2})) AS BIGINT) AS var_reduction_e6
FROM m
"""


QUERIES["cuped_variance_reduction"] = (cuped_variance_reduction,
                                       _cuped_sql())


# ---------------------------------------------------------------------------
# Median confidence interval via exact order statistics
# ---------------------------------------------------------------------------

def median_ci_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% CI for the median of value per event
    type: the interval between the order statistics at ranks
    (n - 1.96*sqrt(n))/2 and (n + 1.96*sqrt(n))/2 + 1 — the binomial
    argument needs NO distributional assumption, which is why it is
    the robust-reporting standard wherever means are skew-poisoned.
    Output per type: (event_type, n, lo_rank, med_rank, hi_rank,
    ci_lo_m, median_m, ci_hi_m) in exact milli units.

    Determinism: values quantize to milli ints; ranks use one sqrt
    (IEEE correctly-rounded) inside floor/ceil of the same expression
    in both engines, clamped to [1, n]; each order statistic is
    selected on a (value -> count) run table with integer cumsums —
    min value whose cumulative count reaches the rank — never a
    global sort of raw rows.

    Scale: one map-side-combinable aggregate to the per-(type, value)
    run table, a per-type window cumsum over runs, and a 3-rank
    conditional aggregate. The run table is bounded by distinct
    quantized values per type, not row count.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"))
    runs = (ev.groupBy("event_type", "vm")
            .agg(F.count(F.lit(1)).alias("c")))
    w = (Window.partitionBy("event_type").orderBy("vm")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cums = runs.select("event_type", "vm", F.sum("c").over(w).alias("cum"))
    ranks = (runs.groupBy("event_type").agg(F.sum("c").alias("n"))
             .select(
                 "event_type", "n",
                 F.expr("greatest(cast(floor((n - 1.96 * sqrt(n)) / 2.0)"
                        " as bigint), 1)").alias("lo_rank"),
                 F.expr("(n + 1) div 2").alias("med_rank"),
                 F.expr("least(cast(ceil((n + 1.96 * sqrt(n)) / 2.0"
                        " + 1.0) as bigint), n)").alias("hi_rank")))
    j = cums.join(F.broadcast(ranks), "event_type")
    return (j.groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.max("lo_rank").alias("lo_rank"),
                 F.max("med_rank").alias("med_rank"),
                 F.max("hi_rank").alias("hi_rank"),
                 F.min(F.when(F.col("cum") >= F.col("lo_rank"),
                              F.col("vm"))).alias("ci_lo_m"),
                 F.min(F.when(F.col("cum") >= F.col("med_rank"),
                              F.col("vm"))).alias("median_m"),
                 F.min(F.when(F.col("cum") >= F.col("hi_rank"),
                              F.col("vm"))).alias("ci_hi_m")))


_MEDIAN_CI_SQL = """
WITH ev AS (
    SELECT event_type,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm
    FROM events
),
runs AS (
    SELECT event_type, vm, CAST(count(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
),
cums AS (
    SELECT event_type, vm,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vm
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
    FROM runs
),
ranks AS (
    SELECT event_type, n,
           greatest(CAST(floor((n - 1.96 * sqrt(n)) / 2.0) AS BIGINT),
                    1) AS lo_rank,
           (n + 1) // 2 AS med_rank,
           least(CAST(ceil((n + 1.96 * sqrt(n)) / 2.0 + 1.0) AS BIGINT),
                 n) AS hi_rank
    FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
          FROM runs GROUP BY 1)
)
SELECT c.event_type, max(r.n) AS n,
       max(r.lo_rank) AS lo_rank, max(r.med_rank) AS med_rank,
       max(r.hi_rank) AS hi_rank,
       min(CASE WHEN c.cum >= r.lo_rank THEN c.vm END) AS ci_lo_m,
       min(CASE WHEN c.cum >= r.med_rank THEN c.vm END) AS median_m,
       min(CASE WHEN c.cum >= r.hi_rank THEN c.vm END) AS ci_hi_m
FROM cums c JOIN ranks r ON c.event_type = r.event_type
GROUP BY c.event_type
"""

QUERIES["median_ci_order_stats"] = (median_ci_order_stats,
                                    _MEDIAN_CI_SQL)


# ---------------------------------------------------------------------------
# Permutation test for the arm difference (exact integer comparisons)
# ---------------------------------------------------------------------------

_PERM_K = 19


def permutation_test_pvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric inference without normality: re-randomize the arm
    assignment {K} times with the canonical 48-bit md5 hash, recompute
    the per-user mean-value difference under each fake assignment, and
    report the rank of the observed difference — the Fisherian p-value
    every experiment readout should sanity-check its z-test against.
    Output one row: (n_users, obs_delta_e6, k_perms, n_extreme,
    p_value_e6).

    Determinism: the "is this permutation as extreme" comparison is
    EXACT — |delta_k| >= |delta_obs| compares the integer
    QUOTIENTS |a|div d first (a = syT*nC - syC*nT, d = nT*nC) and
    cross-multiplies only the REMAINDERS on a quotient tie — both
    remainders are < d, so the tie products stay < d_k*d_obs and the
    test is exact with no overflow until users^4 exceeds 2^63 (~5e4
    users; the 1x->10x scale probe caught the naive |a|*d form
    overflowing at 15k users). No float ever decides a count. The display
    delta is one floored double division.

    Scale: one per-user reduction (keyed shuffle), then a {K}+1-way
    explode of the K-row user frame and a map-side-combinable
    per-permutation aggregate — permutations never touch raw events.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"))
    users = ev.groupBy("user_id").agg(F.sum("vm").alias("y"))
    ks = spark.range(_PERM_K + 1).select(F.col("id").alias("k"))
    arm = F.expr(
        "case when k = 0 then user_id % 2 else"
        " cast(conv(substr(md5(concat('perm:', cast(k as string), ':',"
        " cast(user_id as string))), 1, 12), 16, 10) as bigint) % 2 end")
    assigned = (users.crossJoin(F.broadcast(ks))
                .select("k", arm.alias("arm"), "y"))
    per_k = (assigned.groupBy("k")
             .agg(F.sum(F.expr("case when arm = 1 then y else 0 end"))
                  .alias("syt"),
                  F.sum(F.expr("case when arm = 1 then 1 else 0 end"))
                  .alias("nt"),
                  F.sum(F.expr("case when arm = 0 then y else 0 end"))
                  .alias("syc"),
                  F.sum(F.expr("case when arm = 0 then 1 else 0 end"))
                  .alias("nc"))
             .select("k", F.expr("syt * nc - syc * nt").alias("a"),
                     F.expr("nt * nc").alias("d")))
    obs = (per_k.where(F.col("k") == 0)
           .select(F.col("a").alias("a0"), F.col("d").alias("d0")))
    cmp_ = (per_k.where(F.col("k") > 0)
            .crossJoin(F.broadcast(obs))
            .agg(F.count(F.lit(1)).alias("k_perms"),
                 F.sum(F.expr(
                     "case when abs(a) div greatest(d, 1)"
                     " > abs(a0) div greatest(d0, 1) then 1"
                     " when abs(a) div greatest(d, 1)"
                     " = abs(a0) div greatest(d0, 1)"
                     " and (abs(a) % greatest(d, 1)) * d0"
                     " >= (abs(a0) % greatest(d0, 1)) * d"
                     " then 1 else 0 end")).alias("n_extreme")))
    n_users = users.agg(F.count(F.lit(1)).alias("n_users"))
    return (n_users.crossJoin(F.broadcast(obs))
            .crossJoin(F.broadcast(cmp_))
            .select("n_users",
                    F.expr("cast(floor(1000000.0 * (cast(a0 as double)"
                           " / cast(greatest(d0, 1) as double))"
                           " / 1000.0) as bigint)").alias("obs_delta_e6"),
                    "k_perms", "n_extreme",
                    F.expr("1000000 * (1 + n_extreme)"
                           " div (k_perms + 1)").alias("p_value_e6")))


def _perm_sql() -> str:
    return f"""
WITH ev AS (
    SELECT user_id, CAST(round(value * 1000, 0) AS BIGINT) AS vm
    FROM events
),
users AS (
    SELECT user_id, CAST(sum(vm) AS BIGINT) AS y
    FROM ev GROUP BY user_id
),
assigned AS (
    SELECT k.k,
           CASE WHEN k.k = 0 THEN u.user_id % 2
                ELSE CAST('0x' || substr(md5('perm:'
                     || CAST(k.k AS VARCHAR) || ':'
                     || CAST(u.user_id AS VARCHAR)), 1, 12) AS BIGINT)
                     % 2 END AS arm,
           u.y
    FROM users u
    CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_K})) AS k) k
),
per_k AS (
    SELECT k,
           CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                      AS BIGINT)
           - CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS d
    FROM assigned GROUP BY k
),
obs AS (SELECT a AS a0, d AS d0 FROM per_k WHERE k = 0),
cmp_ AS (
    SELECT CAST(count(*) AS BIGINT) AS k_perms,
           CAST(sum(CASE WHEN abs(a) // greatest(d, 1)
                          > abs(a0) // greatest(d0, 1) THEN 1
                    WHEN abs(a) // greatest(d, 1)
                          = abs(a0) // greatest(d0, 1)
                     AND (abs(a) % greatest(d, 1)) * d0
                          >= (abs(a0) % greatest(d0, 1)) * d
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
    FROM per_k CROSS JOIN obs WHERE k > 0
),
nu AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM users)
SELECT nu.n_users,
       CAST(floor(1000000.0 * (CAST(obs.a0 AS DOUBLE)
            / CAST(greatest(obs.d0, 1) AS DOUBLE)) / 1000.0) AS BIGINT)
           AS obs_delta_e6,
       cmp_.k_perms, cmp_.n_extreme,
       1000000 * (1 + cmp_.n_extreme) // (cmp_.k_perms + 1)
           AS p_value_e6
FROM nu CROSS JOIN obs CROSS JOIN cmp_
"""


QUERIES["permutation_test_pvalue"] = (permutation_test_pvalue,
                                      _perm_sql())


# ---------------------------------------------------------------------------
# Stratified ATT (subclassification on a confounded covariate)
# ---------------------------------------------------------------------------

def stratified_att_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observational causal inference by subclassification: "treated"
    users self-select (their FIRST event is a click — tie-broken by
    event id, the struct-min rule), so the raw mean-outcome gap is
    confounded by activity; stratify on an activity bucket, estimate
    the effect within each stratum, and reweight by the treated
    distribution — the ATT estimator of Cochran's classic design, and
    the baseline every propensity method is judged against. Output one
    row: (n_treated, n_control, n_strata_used, n_strata_dropped,
    smd_before_e6, att_raw_e6, att_strat_e6).

    Determinism: first-event treatment is min(struct(ts_us, event_id,
    type)) — exact integer ordering; outcomes/covariates are exact
    int64 (milli values, counts); the across-strata reweighting is an
    explicit bucket-sorted left fold of double terms (float-reduction
    rule); the balance SMD uses one sqrt over exact moments. att
    values are signed — floored, never int-cast.

    Scale: two keyed reductions (per-user profile, per-stratum
    moments — both map-side combinable), then <=10-row algebra on the
    strata; the per-stratum frame folds once. Nothing after the
    per-user shuffle scales with events.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"),
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"))
    users = (ev.groupBy("user_id")
             .agg(F.min(F.struct("ts_us", "event_id", "event_type"))
                   .alias("first_ev"),
                  F.count(F.lit(1)).alias("a"),
                  F.sum("vm").alias("y"))
             .select("user_id", "a", "y",
                     (F.col("first_ev.event_type") == "click")
                     .cast("long").alias("t"),
                     F.expr("least(a div 20, 9)").alias("b")))
    strata = (users.groupBy("b")
              .agg(F.sum("t").alias("nt"),
                   F.sum(F.expr("case when t = 1 then y else 0 end"))
                    .alias("syt"),
                   F.sum(1 - F.col("t")).alias("nc"),
                   F.sum(F.expr("case when t = 0 then y else 0 end"))
                    .alias("syc")))
    tot = (users.agg(
        F.sum("t").alias("ntt"), F.sum(1 - F.col("t")).alias("ncc"),
        F.sum(F.expr("case when t = 1 then y else 0 end")).alias("syt_all"),
        F.sum(F.expr("case when t = 0 then y else 0 end")).alias("syc_all"),
        F.sum(F.expr("case when t = 1 then a else 0 end")).alias("sat"),
        F.sum(F.expr("case when t = 1 then a * a else 0 end")).alias("sat2"),
        F.sum(F.expr("case when t = 0 then a else 0 end")).alias("sac"),
        F.sum(F.expr("case when t = 0 then a * a else 0 end")).alias("sac2")))
    folded = (strata.agg(
        F.array_sort(F.collect_list(F.struct("b", "nt", "syt", "nc",
                                             "syc"))).alias("arr"))
        .select(
            "arr",
            F.expr("aggregate(transform(arr, x -> case when x.nt > 0"
                   " and x.nc > 0 then x.nt else cast(0 as bigint)"
                   " end), cast(0 as bigint), (acc, x) -> acc + x)")
             .alias("nt_used"),
            F.expr("aggregate(transform(arr, x -> case when x.nt > 0"
                   " and x.nc > 0 then cast(1 as int) else 0 end),"
                   " 0, (acc, x) -> acc + x)").alias("n_used"),
            F.expr("aggregate(transform(arr, x -> case when x.nt = 0"
                   " or x.nc = 0 then 1 else 0 end), 0,"
                   " (acc, x) -> acc + x)").alias("n_dropped"))
        .select(
            "nt_used", "n_used", "n_dropped",
            F.expr("aggregate(transform(arr, x -> case when x.nt > 0"
                   " and x.nc > 0 then cast(x.nt as double)"
                   " * (cast(x.syt as double) / x.nt"
                   "    - cast(x.syc as double) / x.nc)"
                   " else cast(0.0 as double) end),"
                   " cast(0.0 as double), (acc, x) -> acc + x)")
             .alias("att_num")))
    att_strat = ("(att_num / cast(greatest(nt_used, 1) as double))"
                 " / 1000.0")
    att_raw = ("(cast(syt_all as double) / ntt"
               " - cast(syc_all as double) / ncc) / 1000.0")
    smd = ("(cast(sat as double) / ntt - cast(sac as double) / ncc)"
           " / sqrt(((cast(sat2 as double) / ntt"
           "  - (cast(sat as double) / ntt)"
           "    * (cast(sat as double) / ntt))"
           " + (cast(sac2 as double) / ncc"
           "  - (cast(sac as double) / ncc)"
           "    * (cast(sac as double) / ncc))) / 2.0)")
    return (folded.crossJoin(F.broadcast(tot)).select(
        F.col("ntt").alias("n_treated"), F.col("ncc").alias("n_control"),
        F.col("n_used").alias("n_strata_used"),
        F.col("n_dropped").alias("n_strata_dropped"),
        F.expr(f"cast(floor(1000000.0 * ({smd})) as bigint)")
         .alias("smd_before_e6"),
        F.expr(f"cast(floor(1000000.0 * ({att_raw})) as bigint)")
         .alias("att_raw_e6"),
        F.expr(f"cast(floor(1000000.0 * ({att_strat})) as bigint)")
         .alias("att_strat_e6")))


def _att_sql() -> str:
    att_strat = ("(att_num / cast(greatest(nt_used, 1) as double))"
                 " / 1000.0")
    att_raw = ("(cast(syt_all as double) / ntt"
               " - cast(syc_all as double) / ncc) / 1000.0")
    smd = ("(cast(sat as double) / ntt - cast(sac as double) / ncc)"
           " / sqrt(((cast(sat2 as double) / ntt"
           "  - (cast(sat as double) / ntt)"
           "    * (cast(sat as double) / ntt))"
           " + (cast(sac2 as double) / ncc"
           "  - (cast(sac as double) / ncc)"
           "    * (cast(sac as double) / ncc))) / 2.0)")
    return f"""
WITH ev AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm
    FROM events
),
users AS (
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS a,
           CAST(sum(vm) AS BIGINT) AS y,
           CASE WHEN min(struct_pack(ts_us := ts_us,
                                     event_id := event_id,
                                     event_type := event_type))
                     .event_type = 'click'
                THEN 1 ELSE 0 END AS t,
           least(CAST(count(*) AS BIGINT) // 20, 9) AS b
    FROM ev GROUP BY user_id
),
strata AS (
    SELECT b, CAST(sum(t) AS BIGINT) AS nt,
           CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
               AS syt,
           CAST(sum(1 - t) AS BIGINT) AS nc,
           CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
               AS syc
    FROM users GROUP BY b
),
tot AS (
    SELECT CAST(sum(t) AS BIGINT) AS ntt,
           CAST(sum(1 - t) AS BIGINT) AS ncc,
           CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT)
               AS syt_all,
           CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT)
               AS syc_all,
           CAST(sum(CASE WHEN t = 1 THEN a ELSE 0 END) AS BIGINT)
               AS sat,
           CAST(sum(CASE WHEN t = 1 THEN a * a ELSE 0 END) AS BIGINT)
               AS sat2,
           CAST(sum(CASE WHEN t = 0 THEN a ELSE 0 END) AS BIGINT)
               AS sac,
           CAST(sum(CASE WHEN t = 0 THEN a * a ELSE 0 END) AS BIGINT)
               AS sac2
    FROM users
),
folded AS (
    SELECT
        list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(arr, x -> CASE WHEN x.nt > 0 AND x.nc > 0
                THEN x.nt ELSE CAST(0 AS BIGINT) END)),
            (acc, x) -> acc + x) AS nt_used,
        list_reduce(list_prepend(0,
            list_transform(arr, x -> CASE WHEN x.nt > 0 AND x.nc > 0
                THEN 1 ELSE 0 END)),
            (acc, x) -> acc + x) AS n_used,
        list_reduce(list_prepend(0,
            list_transform(arr, x -> CASE WHEN x.nt = 0 OR x.nc = 0
                THEN 1 ELSE 0 END)),
            (acc, x) -> acc + x) AS n_dropped,
        list_reduce(list_prepend(0.0,
            list_transform(arr, x -> CASE WHEN x.nt > 0 AND x.nc > 0
                THEN cast(x.nt as double)
                     * (cast(x.syt as double) / x.nt
                        - cast(x.syc as double) / x.nc)
                ELSE 0.0 END)),
            (acc, x) -> acc + x) AS att_num
    FROM (SELECT list_sort(list(struct_pack(b := b, nt := nt,
                                            syt := syt, nc := nc,
                                            syc := syc))) AS arr
          FROM strata)
)
SELECT t.ntt AS n_treated, t.ncc AS n_control,
       CAST(f.n_used AS INT) AS n_strata_used,
       CAST(f.n_dropped AS INT) AS n_strata_dropped,
       CAST(floor(1000000.0 * ({smd})) AS BIGINT) AS smd_before_e6,
       CAST(floor(1000000.0 * ({att_raw})) AS BIGINT) AS att_raw_e6,
       CAST(floor(1000000.0 * ({att_strat})) AS BIGINT)
           AS att_strat_e6
FROM folded f CROSS JOIN tot t
"""


QUERIES["stratified_att_estimate"] = (stratified_att_estimate,
                                      _att_sql())


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-type permutation p-values
# ---------------------------------------------------------------------------

_BH_Q_NUM, _BH_Q_DEN = 1, 10  # q = 0.10


def fdr_bh_correction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control, end to end in exact integers: one
    permutation p-value per event type (the per-user arm difference
    within that type's events, ranked among {K} md5 re-randomizations
    by exact cross-multiplied comparison), then the Benjamini-Hochberg
    step-up at q = 0.10 — p_(k) <= k*q/m decided as
    den*q_den*p_num <= k*(K+1)*q_num, never a float. The table every
    metrics platform needs the day it reports six deltas at once.
    Output per type: (event_type, p_num, p_den, p_e6, bh_rank,
    rejected).

    Scale: one per-(user, type) reduction, a {K}+1-way explode of that
    reduced frame, per-(type, perm) map-side aggregates, then
    |types|-row BH algebra under a tiny window.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type",
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"))
    users = (ev.groupBy("user_id", "event_type")
             .agg(F.sum("vm").alias("y")))
    ks = spark.range(_PERM_K + 1).select(F.col("id").alias("k"))
    arm = F.expr(
        "case when k = 0 then user_id % 2 else"
        " cast(conv(substr(md5(concat('perm:', cast(k as string), ':',"
        " cast(user_id as string))), 1, 12), 16, 10) as bigint) % 2 end")
    per_k = (users.crossJoin(F.broadcast(ks))
             .select("event_type", "k", arm.alias("arm"), "y")
             .groupBy("event_type", "k")
             .agg(F.sum(F.expr("case when arm = 1 then y else 0 end"))
                  .alias("syt"),
                  F.sum(F.expr("case when arm = 1 then 1 else 0 end"))
                  .alias("nt"),
                  F.sum(F.expr("case when arm = 0 then y else 0 end"))
                  .alias("syc"),
                  F.sum(F.expr("case when arm = 0 then 1 else 0 end"))
                  .alias("nc"))
             .select("event_type", "k",
                     F.expr("syt * nc - syc * nt").alias("a"),
                     F.expr("nt * nc").alias("d")))
    obs = (per_k.where(F.col("k") == 0)
           .select("event_type", F.col("a").alias("a0"),
                   F.col("d").alias("d0")))
    pvals = (per_k.where(F.col("k") > 0)
             .join(F.broadcast(obs), "event_type")
             .groupBy("event_type")
             .agg((1 + F.sum(F.expr(
                  "case when abs(a) div greatest(d, 1)"
                  " > abs(a0) div greatest(d0, 1) then 1"
                  " when abs(a) div greatest(d, 1)"
                  " = abs(a0) div greatest(d0, 1)"
                  " and (abs(a) % greatest(d, 1)) * d0"
                  " >= (abs(a0) % greatest(d0, 1)) * d"
                  " then 1 else 0 end")))
                  .alias("p_num"),
                  F.count(F.lit(1)).alias("kk")))
    w = Window.orderBy("p_num", "event_type")
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    m = F.count(F.lit(1)).over(wall)
    ranked = (pvals.select("event_type", "p_num",
                           (F.col("kk") + 1).alias("p_den"))
              .withColumn("bh_rank", F.row_number().over(w))
              .withColumn("m", m))
    cond = F.expr(f"{_BH_Q_DEN} * m * p_num"
                  f" <= bh_rank * p_den * {_BH_Q_NUM}")
    kmax = F.max(F.when(cond, F.col("bh_rank")).otherwise(0)).over(wall)
    return (ranked.withColumn("kmax", kmax)
            .select("event_type", "p_num", "p_den",
                    F.expr("1000000 * p_num div p_den").alias("p_e6"),
                    "bh_rank",
                    (F.col("bh_rank") <= F.col("kmax")).alias("rejected")))


def _bh_sql() -> str:
    return f"""
WITH ev AS (
    SELECT user_id, event_type,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm
    FROM events
),
users AS (
    SELECT user_id, event_type, CAST(sum(vm) AS BIGINT) AS y
    FROM ev GROUP BY 1, 2
),
per_k AS (
    SELECT event_type, k,
           CAST(sum(CASE WHEN arm = 1 THEN y ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                      AS BIGINT)
           - CAST(sum(CASE WHEN arm = 0 THEN y ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS a,
           CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                      AS BIGINT) AS d
    FROM (
        SELECT u.event_type, k.k, u.y,
               CASE WHEN k.k = 0 THEN u.user_id % 2
                    ELSE CAST('0x' || substr(md5('perm:'
                         || CAST(k.k AS VARCHAR) || ':'
                         || CAST(u.user_id AS VARCHAR)), 1, 12)
                         AS BIGINT) % 2 END AS arm
        FROM users u
        CROSS JOIN (SELECT unnest(generate_series(0, {_PERM_K}))
                    AS k) k
    )
    GROUP BY 1, 2
),
obs AS (SELECT event_type, a AS a0, d AS d0 FROM per_k WHERE k = 0),
pvals AS (
    SELECT p.event_type,
           1 + CAST(sum(CASE WHEN abs(p.a) // greatest(p.d, 1)
                              > abs(o.a0) // greatest(o.d0, 1) THEN 1
                        WHEN abs(p.a) // greatest(p.d, 1)
                              = abs(o.a0) // greatest(o.d0, 1)
                         AND (abs(p.a) % greatest(p.d, 1)) * o.d0
                              >= (abs(o.a0) % greatest(o.d0, 1)) * p.d
                             THEN 1 ELSE 0 END) AS BIGINT) AS p_num,
           CAST(count(*) AS BIGINT) + 1 AS p_den
    FROM per_k p JOIN obs o ON p.event_type = o.event_type
    WHERE p.k > 0 GROUP BY p.event_type
),
ranked AS (
    SELECT event_type, p_num, p_den,
           CAST(row_number() OVER (ORDER BY p_num, event_type) AS INT)
               AS bh_rank,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM pvals
),
km AS (
    SELECT max(CASE WHEN {_BH_Q_DEN} * m * p_num
                         <= bh_rank * p_den * {_BH_Q_NUM}
               THEN bh_rank ELSE 0 END) AS kmax
    FROM ranked
)
SELECT r.event_type, r.p_num, r.p_den,
       1000000 * r.p_num // r.p_den AS p_e6,
       r.bh_rank, r.bh_rank <= k.kmax AS rejected
FROM ranked r CROSS JOIN km k
"""


QUERIES["fdr_bh_correction"] = (fdr_bh_correction, _bh_sql())


# ---------------------------------------------------------------------------
# Sparse-vector-technique DP release (integer discrete Laplace)
# ---------------------------------------------------------------------------

_SVT_EPS = 0.5
_SVT_B = 8          # truncation of the discrete Laplace support
_SVT_CAP = 3        # release budget: stop after this many answers


def _dlap_cutoffs() -> list[int]:
    """48-bit inverse-CDF cutoffs of the truncated discrete Laplace
    exp(-eps*|k|), k in [-B, B] — computed ONCE in Python and embedded
    as integer literals in BOTH engines, so noise sampling is pure
    integer comparison (no ln/exp inside either engine: branching on a
    transcendental is the walk-PMI hazard class, and SVT BRANCHES on
    its noise)."""
    import math

    probs = [math.exp(-_SVT_EPS * abs(k))
             for k in range(-_SVT_B, _SVT_B + 1)]
    z = sum(probs)
    cuts, acc = [], 0.0
    for p in probs[:-1]:
        acc += p / z
        cuts.append(round((1 << 48) * acc))
    return cuts


def _dlap_case(h_expr: str) -> str:
    cuts = _dlap_cutoffs()
    arms = " ".join(
        f"when ({h_expr}) < {c} then cast({k - _SVT_B} as bigint)"
        for k, c in enumerate(cuts))
    return f"(case {arms} else cast({_SVT_B} as bigint) end)"


def _h48_svt(tag: str, spark_side: bool) -> str:
    if spark_side:
        return ("cast(conv(substr(md5(concat('svt:', " + tag + ")),"
                " 1, 12), 16, 10) as bigint)")
    return ("CAST('0x' || substr(md5('svt:' || " + tag + "), 1, 12)"
            " AS BIGINT)")


def dp_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sparse-vector technique — the DP primitive that answers a
    STREAM of threshold queries while only paying privacy budget for
    the hits: "was daily volume above typical?" asked for every day in
    order, noisy threshold fixed once, each above-threshold day
    released with fresh noise, and the mechanism HALTS after
    {CAP} releases. Output per day: (day_rel, true_count, queried,
    released, dp_answer) — dp_answer NULL for suppressed days,
    queried=0 once the budget is spent.

    Determinism: noise is truncated discrete Laplace sampled by
    comparing the canonical 48-bit md5 integer against Python-
    precomputed inverse-CDF cutoffs (identical literals both engines)
    — every branch is an integer compare; the sequential halt state
    runs in a day-sorted fold whose appended struct reads only the
    PREVIOUS accumulator element (the DuckDB in-place struct_pack
    hazard never arises because the release decision is inlined
    everywhere it is needed, not read from a sibling field).

    Scale: one map-side-combinable aggregate to the daily totals; the
    fold runs over days in one row. The privacy ledger, not the
    corpus, is the sequential part — exactly how SVT deploys.
    """
    daily = (load(spark, sf_dir, "events")
             .select(F.expr("unix_micros(cast(ts as timestamp))"
                            " div 86400000000").alias("day"))
             .groupBy("day").agg(F.count(F.lit(1)).alias("q")))
    b = daily.agg(F.min("day").alias("mind"),
                  F.sum("q").alias("tot"),
                  F.count(F.lit(1)).alias("nd"))
    dec = _dlap_case(_h48_svt(
        "'q:', cast(day_rel as string)", True).replace(
        "concat('svt:', ", "concat('svt:', "))
    ans = _dlap_case(_h48_svt("'a:', cast(day_rel as string)", True))
    rows = (daily.crossJoin(F.broadcast(b))
            .select((F.col("day") - F.col("mind")).alias("day_rel"),
                    "q", F.expr("tot div nd").alias("t"))
            .select("day_rel", "q", "t",
                    F.expr(dec).alias("dnz"), F.expr(ans).alias("anz")))
    tnoise = _dlap_case(_h48_svt("'T'", True))
    one = (rows.groupBy()
           .agg(F.max("t").alias("t"),
                F.array_sort(F.collect_list(
                    F.struct("day_rel", "q", "dnz", "anz"))).alias("arr"))
           .select("arr", F.expr(f"t + {tnoise}").alias("nt")))
    rel = ("(case when element_at(acc, -1).c < " + str(_SVT_CAP)
           + " and x.q + x.dnz > nt then 1 else 0 end)")
    fold = (
        "aggregate(arr, array(named_struct("
        "'day_rel', cast(-1 as bigint), 'q', cast(0 as bigint),"
        " 'queried', 0, 'released', 0,"
        " 'answer', cast(null as bigint), 'c', cast(0 as bigint))),"
        " (acc, x) -> array_append(acc, named_struct("
        "'day_rel', x.day_rel, 'q', x.q,"
        f" 'queried', case when element_at(acc, -1).c < {_SVT_CAP}"
        " then 1 else 0 end,"
        f" 'released', {rel},"
        f" 'answer', case when {rel} = 1 then x.q + x.anz"
        " else cast(null as bigint) end,"
        f" 'c', element_at(acc, -1).c + {rel})))")
    return (one.select(F.explode(F.expr(fold)).alias("s"))
            .where(F.col("s.day_rel") >= 0)
            .select(F.col("s.day_rel").alias("day_rel"),
                    F.col("s.q").alias("true_count"),
                    F.col("s.queried").alias("queried"),
                    F.col("s.released").alias("released"),
                    F.col("s.answer").alias("dp_answer")))


def _svt_sql() -> str:
    dec = _dlap_case(_h48_svt("'q:' || CAST(day_rel AS VARCHAR)", False))
    ans = _dlap_case(_h48_svt("'a:' || CAST(day_rel AS VARCHAR)", False))
    tnoise = _dlap_case(_h48_svt("'T'", False))
    rel = (f"(case when acc[-1].c < {_SVT_CAP}"
           " and x.q + x.dnz > nt then 1 else 0 end)")
    # DuckDB list_reduce needs acc and element types to match, so each
    # input element is a 1-element list of the SAME struct type with
    # dec/ans smuggled through the answer/c slots; xx[-1] reads the
    # element. Placeholders are macro-expanded below (collision-safe
    # tokens — a bare "cc" would also rewrite every "acc").
    fold = (
        "list_reduce(list_prepend("
        "[struct_pack(day_rel := CAST(-1 AS BIGINT),"
        " q := CAST(0 AS BIGINT), queried := 0, released := 0,"
        " answer := CAST(NULL AS BIGINT), c := CAST(0 AS BIGINT))],"
        " list_transform(arr, e -> [struct_pack(day_rel := e.day_rel,"
        " q := e.q, queried := 0, released := 0,"
        " answer := CAST(e.dnz AS BIGINT), c := e.anz)])),"
        " (acc, xx) -> list_append(acc, struct_pack("
        "day_rel := xx[-1].day_rel, q := xx[-1].q,"
        f" queried := case when acc[-1].c < {_SVT_CAP}"
        " then 1 else 0 end,"
        " released := __REL__, answer := __ANS__, c := __CNT__)))")
    x_dec = "xx[-1].answer"
    x_ans = "xx[-1].c"
    rel2 = (f"(case when acc[-1].c < {_SVT_CAP}"
            f" and xx[-1].q + {x_dec} > nt then 1 else 0 end)")
    fold = (fold
            .replace("__REL__", rel2)
            .replace("__ANS__", f"case when {rel2} = 1"
                                f" then xx[-1].q + {x_ans}"
                                " else CAST(NULL AS BIGINT) end")
            .replace("__CNT__", f"acc[-1].c + {rel2}"))
    return f"""
WITH daily AS (
    SELECT epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS q
    FROM events GROUP BY 1
),
b AS (SELECT min(day) AS mind, CAST(sum(q) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS nd
      FROM daily),
rows_ AS (
    SELECT day - mind AS day_rel, q, tot // nd AS t
    FROM daily CROSS JOIN b
),
enriched AS (
    SELECT day_rel, q, t, {dec} AS dnz, {ans} AS anz FROM rows_
),
one AS (
    SELECT list_sort(list(struct_pack(day_rel := day_rel, q := q,
                                      dnz := dnz, anz := anz))) AS arr,
           max(t) + {tnoise.replace("day_rel", "0")} AS nt
    FROM enriched
),
folded AS (
    SELECT unnest({fold}) AS s FROM one
)
SELECT s.day_rel, s.q AS true_count,
       CAST(s.queried AS INT) AS queried,
       CAST(s.released AS INT) AS released, s.answer AS dp_answer
FROM folded WHERE s.day_rel >= 0
"""


QUERIES["dp_sparse_vector"] = (dp_sparse_vector, _svt_sql())


# ---------------------------------------------------------------------------
# Exact Shapley channel attribution (4 channels, factorial weights)
# ---------------------------------------------------------------------------

_SHAP_CHANNELS = ("click", "error", "signup", "view")  # purchase = conversion


def _shap_tables() -> tuple[list[tuple[int, int]], int]:
    """(coalition rows (S, wnum), denominator n!) — wnum is the
    k!(n-k-1)! marginal-contribution weight for adding a channel to a
    size-k coalition S. Generated once in Python, embedded as literals
    in both engines (same spirit as the SVT noise cutoffs)."""
    import math

    n = len(_SHAP_CHANNELS)
    rows = []
    for s in range(1 << n):
        k = bin(s).count("1")
        if k < n:
            rows.append((s, math.factorial(k) * math.factorial(n - 1 - k)))
    return rows, math.factorial(n)


def shapley_channel_attribution(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the four non-purchase
    channels — the only credit split that is symmetric, efficient and
    additive, computed in closed form because the coalition lattice is
    2^4: v(S) = converted users whose touched-channel set is contained
    in S, and each channel's value is the factorial-weighted sum of
    its marginal contributions (weights precomputed in Python as
    integer literals; denominator 4! = 24). The principled referee
    between last-touch and position-based attribution, exact to the
    definition rather than sampled. Output per channel: (channel,
    shapley_num, shapley_e6, v_full, v_empty) — efficiency
    (sum(phi) = v_full - v_empty) is pinned by the invariant test.

    Scale: one per-user reduction to a 4-bit touch mask + conversion
    flag (map-side combinable), a <=16-row mask census, and literal
    16x16 lattice joins. The lattice never grows with data; only the
    first aggregate touches the corpus.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    touch = [F.max(F.when(F.col("event_type") == c, 1).otherwise(0))
             .alias(f"t{i}") for i, c in enumerate(_SHAP_CHANNELS)]
    users = (ev.groupBy("user_id")
             .agg(*touch,
                  F.max(F.when(F.col("event_type") == "purchase", 1)
                        .otherwise(0)).alias("conv")))
    mask = sum((F.col(f"t{i}") * (1 << i)
                for i in range(len(_SHAP_CHANNELS))), F.lit(0))
    u = (users.where(F.col("conv") == 1)
         .select(mask.alias("m"))
         .groupBy("m").agg(F.count(F.lit(1)).alias("um")))
    full = (1 << len(_SHAP_CHANNELS)) - 1
    coal = spark.createDataFrame(
        [(s,) for s in range(1 << len(_SHAP_CHANNELS))], "s int")
    v = (coal.join(F.broadcast(u),
                   F.expr("(m | s) = s"), "left")
         .groupBy("s").agg(F.coalesce(F.sum("um"), F.lit(0))
                           .alias("v")))
    rows_sw, denom = _shap_tables()
    sw = spark.createDataFrame(rows_sw, "s int, wnum long")
    chans = spark.createDataFrame(
        [(c, 1 << i) for i, c in enumerate(_SHAP_CHANNELS)],
        "channel string, cbit int")
    terms = (chans.crossJoin(F.broadcast(sw))
             .where(F.expr("(s & cbit) = 0"))
             .join(F.broadcast(v.select(F.col("s").alias("s1"),
                                        F.col("v").alias("v1"))),
                   F.expr("s1 = s"))
             .join(F.broadcast(v.select(F.col("s").alias("s2"),
                                        F.col("v").alias("v2"))),
                   F.expr("s2 = (s | cbit)"))
             .groupBy("channel")
             .agg(F.sum(F.col("wnum") * (F.col("v2") - F.col("v1")))
                  .alias("shapley_num")))
    vf = (v.agg(F.max(F.when(F.col("s") == full, F.col("v")))
                .alias("v_full"),
                F.max(F.when(F.col("s") == 0, F.col("v")))
                .alias("v_empty")))
    return (terms.crossJoin(F.broadcast(vf))
            .select("channel", "shapley_num",
                    F.expr(f"1000000 * shapley_num div {denom}")
                     .alias("shapley_e6"),
                    "v_full", "v_empty"))


def _shapley_sql() -> str:
    rows_sw, denom = _shap_tables()
    n = len(_SHAP_CHANNELS)
    full = (1 << n) - 1
    sw_vals = ", ".join(f"({s}, {w})" for s, w in rows_sw)
    coal_vals = ", ".join(f"({s})" for s in range(1 << n))
    chan_vals = ", ".join(f"('{c}', {1 << i})"
                          for i, c in enumerate(_SHAP_CHANNELS))
    touch = ", ".join(
        f"max(CASE WHEN event_type = '{c}' THEN 1 ELSE 0 END) AS t{i}"
        for i, c in enumerate(_SHAP_CHANNELS))
    mask = " + ".join(f"t{i} * {1 << i}" for i in range(n))
    return f"""
WITH users AS (
    SELECT user_id, {touch},
           max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
    FROM events GROUP BY user_id
),
u AS (
    SELECT {mask} AS m, CAST(count(*) AS BIGINT) AS um
    FROM users WHERE conv = 1 GROUP BY 1
),
coal(s) AS (VALUES {coal_vals}),
v AS (
    SELECT c.s,
           CAST(coalesce(sum(u.um), 0) AS BIGINT) AS v
    FROM coal c LEFT JOIN u ON (u.m | c.s) = c.s
    GROUP BY c.s
),
sw(s, wnum) AS (VALUES {sw_vals}),
chans(channel, cbit) AS (VALUES {chan_vals}),
terms AS (
    SELECT ch.channel,
           CAST(sum(sw.wnum * (v2.v - v1.v)) AS BIGINT) AS shapley_num
    FROM chans ch
    JOIN sw ON (sw.s & ch.cbit) = 0
    JOIN v v1 ON v1.s = sw.s
    JOIN v v2 ON v2.s = (sw.s | ch.cbit)
    GROUP BY ch.channel
),
vf AS (
    SELECT max(CASE WHEN s = {full} THEN v END) AS v_full,
           max(CASE WHEN s = 0 THEN v END) AS v_empty
    FROM v
)
SELECT t.channel, t.shapley_num,
       1000000 * t.shapley_num // {denom} AS shapley_e6,
       vf.v_full, vf.v_empty
FROM terms t CROSS JOIN vf
"""


QUERIES["shapley_channel_attribution"] = (shapley_channel_attribution,
                                          _shapley_sql())


# ---------------------------------------------------------------------------
# Aalen–Johansen cumulative incidence under competing risks
# ---------------------------------------------------------------------------

_AJ_CENSOR_DAYS = 7


def competing_risks_incidence(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Aalen–Johansen cumulative incidence for COMPETING user exits:
    a user's history ends either in a purchase (converted) or in any
    other final event (churned), and users active in the final week
    are censored. Naively running one-minus-KM per cause OVERSTATES
    both risks (the classic competing-risks mistake); AJ weights each
    cause's hazard by the probability of still being around,
    CIF_k(t) = sum_{t_i<=t} S(t_i-)*d_k,i/n_i, so the two incidence
    curves and overall survival add to one. Output per duration day:
    (t, n_risk, d_convert, d_churn, s_minus, cif_convert, cif_churn).

    Determinism: risk sets / event counts are exact integers (final
    event chosen by max(struct(ts, event_id, type)) — integer
    ordering); the running survival and both CIFs come from
    per-prefix left folds whose struct accumulator orders every
    acc-read before its write (the DuckDB in-place struct_pack rule:
    cif fields read acc.s BEFORE the s field overwrites it).

    Scale: one per-user reduction, a duration-keyed aggregate, and
    report-sized prefix folds — the KM shape with a 2-cause ledger.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("unix_micros(cast(ts as timestamp))"
               " div 86400000000").alias("day"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"))
    per_user = (ev.groupBy("user_id")
                .agg(F.min("day").alias("d0"), F.max("day").alias("d1"),
                     F.max(F.struct("ts_us", "event_id", "event_type"))
                      .alias("last_ev")))
    mx = F.broadcast(per_user.agg(F.max("d1").alias("dmax")))
    lif = (per_user.crossJoin(mx)
           .select((F.col("d1") - F.col("d0")).alias("t"),
                   F.when(F.col("d1") >= F.col("dmax") - _AJ_CENSOR_DAYS,
                          F.lit(0))
                    .when(F.col("last_ev.event_type") == "purchase",
                          F.lit(1))
                    .otherwise(F.lit(2)).alias("cause")))
    daily = (lif.groupBy("t")
             .agg(F.count(F.lit(1)).alias("ending"),
                  F.sum((F.col("cause") == 1).cast("long")).alias("dc"),
                  F.sum((F.col("cause") == 2).cast("long")).alias("dh")))
    w_rev = (Window.orderBy(F.desc("t"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = daily.select("t", "dc", "dh",
                        F.sum("ending").over(w_rev).alias("n_risk"))
    folded = (risk.select(F.struct("t", "dc", "dh", "n_risk").alias("s"))
              .agg(F.array_sort(F.collect_list("s")).alias("xs")))
    # per-prefix fold carrying (cif_c, cif_h, s) — cif fields read
    # acc.s before the s field overwrites it (field order matters for
    # the DuckDB oracle; mirrored here for symmetry)
    def _state(i):
        init = F.struct(F.lit(0.0).alias("cc"), F.lit(0.0).alias("ch"),
                        F.lit(1.0).alias("s"))

        def step(acc, e):
            haz = (e["dc"] + e["dh"]).cast("double") / e["n_risk"]
            return F.struct(
                (acc["cc"] + acc["s"]
                 * (e["dc"].cast("double") / e["n_risk"])).alias("cc"),
                (acc["ch"] + acc["s"]
                 * (e["dh"].cast("double") / e["n_risk"])).alias("ch"),
                (acc["s"] * (F.lit(1.0) - haz)).alias("s"))

        return F.aggregate(F.slice("xs", 1, i), init, step)

    def _prev_s(i):
        return F.aggregate(
            F.slice("xs", 1, i - 1), F.lit(1.0),
            lambda acc, e: acc * (F.lit(1.0)
                                  - (e["dc"] + e["dh"]).cast("double")
                                  / e["n_risk"]))

    idx = F.sequence(F.lit(1), F.size("xs"))
    curve = folded.select(F.explode(F.transform(idx, lambda i: F.struct(
        F.element_at("xs", i)["t"].alias("t"),
        F.element_at("xs", i)["n_risk"].alias("n_risk"),
        F.element_at("xs", i)["dc"].alias("d_convert"),
        F.element_at("xs", i)["dh"].alias("d_churn"),
        F.round(_prev_s(i), 6).alias("s_minus"),
        F.round(_state(i)["cc"], 6).alias("cif_convert"),
        F.round(_state(i)["ch"], 6).alias("cif_churn")))).alias("r")) \
        .select("r.*")
    return curve


_AJ_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) // 86400000000 AS day, epoch_us(ts) AS ts_us
  FROM events
), per_user AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1,
         max(struct_pack(ts_us := ts_us, event_id := event_id,
                         event_type := event_type)) AS last_ev
  FROM ev GROUP BY user_id
), lif AS (
  SELECT d1 - d0 AS t,
         CASE WHEN d1 >= (SELECT max(d1) FROM per_user)
                         - {_AJ_CENSOR_DAYS} THEN 0
              WHEN last_ev.event_type = 'purchase' THEN 1
              ELSE 2 END AS cause
  FROM per_user
), daily AS (
  SELECT t, CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dc,
         CAST(sum(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dh
  FROM lif GROUP BY t
), risk AS (
  SELECT t, dc, dh,
         CAST(sum(ending) OVER (ORDER BY t DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS n_risk
  FROM daily
), arr AS (
  SELECT list(struct_pack(t := t, dc := dc, dh := dh,
                          n_risk := n_risk) ORDER BY t) AS xs
  FROM risk
)
SELECT u.e.t AS t, u.e.n_risk AS n_risk, u.e.dc AS d_convert,
       u.e.dh AS d_churn,
       round(list_reduce(list_prepend(1.0,
           list_transform(list_slice(xs, 1, u.i - 1),
               e2 -> 1.0 - CAST(e2.dc + e2.dh AS DOUBLE) / e2.n_risk)),
           (a, x) -> a * x), 6) AS s_minus,
       round(list_reduce(list_prepend(
           [0.0, 0.0, 1.0],
           list_transform(list_slice(xs, 1, u.i),
               e2 -> [CAST(e2.dc AS DOUBLE) / e2.n_risk,
                      CAST(e2.dh AS DOUBLE) / e2.n_risk,
                      1.0 - CAST(e2.dc + e2.dh AS DOUBLE)
                          / e2.n_risk])),
           (acc, x) -> [acc[1] + acc[3] * x[1],
                        acc[2] + acc[3] * x[2],
                        acc[3] * x[3]])[1], 6)
           AS cif_convert,
       round(list_reduce(list_prepend(
           [0.0, 0.0, 1.0],
           list_transform(list_slice(xs, 1, u.i),
               e2 -> [CAST(e2.dc AS DOUBLE) / e2.n_risk,
                      CAST(e2.dh AS DOUBLE) / e2.n_risk,
                      1.0 - CAST(e2.dc + e2.dh AS DOUBLE)
                          / e2.n_risk])),
           (acc, x) -> [acc[1] + acc[3] * x[1],
                        acc[2] + acc[3] * x[2],
                        acc[3] * x[3]])[2], 6)
           AS cif_churn
FROM arr, unnest(list_transform(range(1, len(xs) + 1),
         i -> struct_pack(i := i, e := xs[i]))) AS t(u)
"""

QUERIES["competing_risks_incidence"] = (competing_risks_incidence,
                                        _AJ_SQL)


# ---------------------------------------------------------------------------
# Chi-square cell residuals (which cells drive the dependence)
# ---------------------------------------------------------------------------

def chi2_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drill-down behind ``chi2_independence``: per (event type,
    day-of-week) cell, observed count, expected count under
    independence, and the standardized Pearson residual — the table
    that says WHICH cells carry the dependence, not just that one
    exists. dow comes from integer epoch arithmetic ((epoch_days + 4)
    % 7, CLAUDE.md — never engine dayofweek()). Output per cell:
    (event_type, dow, observed, expected_e3, residual_e3).

    Determinism: observed/marginals are exact ints; expected =
    rowtot*coltot/N is one double expression; the residual divides by
    sqrt(expected) (IEEE sqrt) — signed, floored.

    Scale: one map-side aggregate to |types| x 7 cells, marginals
    derived from the cell frame (persisted; released via
    tables.release()).
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(cast(ts as timestamp)) div 86400000000"
               " + 4) % 7").alias("dow"))
    cells = persist(ev.groupBy("event_type", "dow")
                    .agg(F.count(F.lit(1)).alias("o")))
    rows_ = cells.groupBy("event_type").agg(F.sum("o").alias("rt"))
    cols_ = cells.groupBy("dow").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("nn"))
    exp_ = "(cast(rt as double) * ct / nn)"
    return (cells.join(F.broadcast(rows_), "event_type")
            .join(F.broadcast(cols_), "dow")
            .crossJoin(F.broadcast(tot))
            .select("event_type", F.col("dow").cast("int").alias("dow"),
                    F.col("o").alias("observed"),
                    F.expr(f"cast(floor(1000.0 * {exp_}) as bigint)")
                     .alias("expected_e3"),
                    F.expr(f"cast(floor(1000.0 * (o - {exp_})"
                           f" / sqrt({exp_})) as bigint)")
                     .alias("residual_e3")))


_CHI2_CELLS_SQL = """
WITH ev AS (
    SELECT event_type,
           (epoch_us(ts) // 86400000000 + 4) % 7 AS dow
    FROM events
),
cells AS MATERIALIZED (
    SELECT event_type, dow, CAST(count(*) AS BIGINT) AS o
    FROM ev GROUP BY 1, 2
),
rows_ AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt
          FROM cells GROUP BY 1),
cols_ AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct
          FROM cells GROUP BY 1),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells)
SELECT c.event_type, CAST(c.dow AS INT) AS dow, c.o AS observed,
       CAST(floor(1000.0 * (cast(r.rt as double) * cl.ct / t.nn))
            AS BIGINT) AS expected_e3,
       CAST(floor(1000.0 * (c.o - (cast(r.rt as double) * cl.ct / t.nn))
            / sqrt(cast(r.rt as double) * cl.ct / t.nn)) AS BIGINT)
           AS residual_e3
FROM cells c
JOIN rows_ r USING (event_type)
JOIN cols_ cl USING (dow)
CROSS JOIN tot t
"""


QUERIES["chi2_cell_residuals"] = (chi2_cell_residuals, _CHI2_CELLS_SQL)


# --------------------------------------------------------------------------
# logrank_test: two-group survival comparison (log-rank / Mantel-Cox)
# --------------------------------------------------------------------------

def logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel–Cox) test: does customer churn differ between
    the AUTOMOBILE market segment and everyone else? Lifetimes and
    censoring are exactly the Kaplan–Meier definitions above (monthly
    first→last order span; active within the final 180 days =
    censored); the test aggregates, per event month, the observed
    group-1 deaths against the hypergeometric expectation
    ``E₁ₘ = dₘ·n₁ₘ/nₘ`` and variance
    ``Vₘ = dₘ·n₁ₘ·n₀ₘ·(nₘ−dₘ) / (nₘ²·(nₘ−1))``, then
    ``χ² = (O₁−E₁)²/V``.

    Cross-engine determinism: every per-month input (risk sets, death
    counts) is an exact int64; E and V are computed from them with an
    IDENTICALLY-written double expression (multiplication and division
    are IEEE-deterministic given the same association), and the two
    float sums are explicit left folds over the month-sorted array —
    both engines add identical doubles in identical order, so the
    floored e6 outputs match bitwise.

    Scale: per-customer lifetime is one keyed aggregate over orders
    plus one shuffle join to the customer dim for the segment flag;
    everything after (monthly table, spine, fold) is report-sized.
    The censor boundary derives from max(order day), never wall-clock.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", F.lit(1))
        .otherwise(F.lit(0)).alias("g"))
    per_cust = (orders.groupBy("o_custkey")
                .agg(F.min("oday").alias("d0"), F.max("oday").alias("d1"))
                .join(cust, "o_custkey"))
    mx = F.broadcast(per_cust.agg(F.max("d1").alias("dmax")))
    lif = (per_cust.crossJoin(mx)
           .select("g",
                   ((F.col("d1") - F.col("d0")) / 30).cast("long").alias("m"),
                   (F.col("d1") < F.col("dmax") - _KM_CENSOR_DAYS)
                   .cast("long").alias("event")))
    monthly = (lif.groupBy("m", "g")
               .agg(F.count(F.lit(1)).alias("ending"),
                    F.sum("event").alias("d")))
    spine = (monthly.select("m").distinct()
             .crossJoin(spark.range(2).select(F.col("id").cast("int")
                                              .alias("g"))))
    filled = (spine.join(monthly, ["m", "g"], "left")
              .select("m", "g",
                      F.coalesce("ending", F.lit(0)).alias("ending"),
                      F.coalesce("d", F.lit(0)).alias("d")))
    from pyspark.sql import Window
    w_rev = (Window.partitionBy("g").orderBy(F.desc("m"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = filled.select(
        "m", "g", "d", F.sum("ending").over(w_rev).alias("n_risk"))
    per_m = (risk.groupBy("m")
             .agg(F.max(F.when(F.col("g") == 1, F.col("n_risk")))
                  .alias("n1m"),
                  F.max(F.when(F.col("g") == 0, F.col("n_risk")))
                  .alias("n0m"),
                  F.max(F.when(F.col("g") == 1, F.col("d"))).alias("d1m"),
                  F.max(F.when(F.col("g") == 0, F.col("d"))).alias("d0m"))
             .withColumn("nm", F.col("n1m") + F.col("n0m"))
             .withColumn("dm", F.col("d1m") + F.col("d0m"))
             .filter("dm > 0 AND nm > 1"))
    # integer totals are order-free sums; the two float accumulators
    # (E1, V) are a left fold in month order, written with the literal
    # expression shared with the oracle below
    folded = (per_m
              .select(F.struct("m", "n1m", "n0m", "nm", "dm").alias("s"))
              .agg(F.array_sort(F.collect_list("s")).alias("xs")))
    # observed deaths per group come straight from the monthly table
    obs = (per_m.agg(
        F.sum("d1m").alias("o1"), F.sum("d0m").alias("o0")))
    n_by_g = (lif.groupBy("g").agg(F.count(F.lit(1)).alias("n")))
    n1 = (n_by_g.filter("g = 1").select(F.col("n").alias("n1")))
    n0 = (n_by_g.filter("g = 0").select(F.col("n").alias("n0")))
    out = (obs.crossJoin(folded.select(F.expr(_LR_FOLD).alias("f")))
           .crossJoin(F.broadcast(n1)).crossJoin(F.broadcast(n0))
           .select(
               "n1", "n0", "o1", "o0",
               F.expr("cast(floor(1000000.0 * f.e1) as bigint)")
               .alias("e1_e6"),
               F.expr("cast(floor(1000000.0 * f.v) as bigint)")
               .alias("v_e6"),
               F.expr("case when f.v > 0.0 then cast(floor(1000000.0 *"
                      " (cast(o1 as double) - f.e1)"
                      " * (cast(o1 as double) - f.e1) / f.v) as bigint)"
                      " end").alias("chi2_e6")))
    return out


# the E1/V left fold, written once and used verbatim in both engines
# (aggregate() in Spark; the DuckDB twin below mirrors it with
# list_reduce on a prepended zero accumulator)
_LR_FOLD = (
    "aggregate(xs, named_struct('e1', cast(0.0 as double), "
    "'v', cast(0.0 as double)), (acc, x) -> named_struct("
    "'e1', acc.e1 + cast(x.dm as double) * x.n1m / x.nm, "
    "'v', acc.v + cast(x.dm as double) * x.n1m * x.n0m * (x.nm - x.dm)"
    " / (cast(x.nm as double) * x.nm * (x.nm - 1))))")


_LOGRANK_SQL = f"""
WITH per_cust AS (
  SELECT o.o_custkey,
         min(epoch_us(o.o_orderdate) // 86400000000) AS d0,
         max(epoch_us(o.o_orderdate) // 86400000000) AS d1,
         CASE WHEN any_value(c.c_mktsegment) = 'AUTOMOBILE'
              THEN 1 ELSE 0 END AS g
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY o.o_custkey
), mx AS (SELECT max(d1) AS dmax FROM per_cust),
lif AS (
  SELECT g, CAST((d1 - d0) // 30 AS BIGINT) AS m,
         CAST(d1 < dmax - {_KM_CENSOR_DAYS} AS BIGINT) AS event
  FROM per_cust CROSS JOIN mx
), monthly AS (
  SELECT m, g, CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(event) AS BIGINT) AS d
  FROM lif GROUP BY m, g
), spine AS (
  SELECT DISTINCT m, gg.g FROM monthly
  CROSS JOIN (SELECT 0 AS g UNION ALL SELECT 1) gg
), filled AS (
  SELECT s.m, s.g, coalesce(mo.ending, 0) AS ending,
         coalesce(mo.d, 0) AS d
  FROM spine s LEFT JOIN monthly mo ON s.m = mo.m AND s.g = mo.g
), risk AS (
  SELECT m, g, d,
         sum(ending) OVER (PARTITION BY g ORDER BY m DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS n_risk
  FROM filled
), per_m AS (
  SELECT m,
         max(CASE WHEN g = 1 THEN n_risk END) AS n1m,
         max(CASE WHEN g = 0 THEN n_risk END) AS n0m,
         max(CASE WHEN g = 1 THEN d END) AS d1m,
         max(CASE WHEN g = 0 THEN d END) AS d0m
  FROM risk GROUP BY m
), per_m2 AS (
  SELECT m, n1m, n0m, d1m, d0m, n1m + n0m AS nm, d1m + d0m AS dm
  FROM per_m WHERE d1m + d0m > 0 AND n1m + n0m > 1
), arr AS (
  SELECT list_sort(list(struct_pack(m := m, n1m := n1m, n0m := n0m,
                                    nm := nm, dm := dm))) AS xs,
         CAST(sum(d1m) AS BIGINT) AS o1, CAST(sum(d0m) AS BIGINT) AS o0
  FROM per_m2
), folded AS (
  SELECT o1, o0,
         list_reduce(
           list_prepend(struct_pack(e1 := CAST(0.0 AS DOUBLE),
                                    v := CAST(0.0 AS DOUBLE)),
             list_transform(xs, x -> struct_pack(
               e1 := CAST(x.dm AS DOUBLE) * x.n1m / x.nm,
               v := CAST(x.dm AS DOUBLE) * x.n1m * x.n0m * (x.nm - x.dm)
                    / (CAST(x.nm AS DOUBLE) * x.nm * (x.nm - 1))))),
           (acc, x) -> struct_pack(e1 := acc.e1 + x.e1,
                                   v := acc.v + x.v)) AS f
  FROM arr
), ns AS (
  SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0
  FROM lif
)
SELECT ns.n1, ns.n0, folded.o1, folded.o0,
       CAST(floor(1000000.0 * f.e1) AS BIGINT) AS e1_e6,
       CAST(floor(1000000.0 * f.v) AS BIGINT) AS v_e6,
       CASE WHEN f.v > 0.0 THEN
         CAST(floor(1000000.0 * (CAST(folded.o1 AS DOUBLE) - f.e1)
              * (CAST(folded.o1 AS DOUBLE) - f.e1) / f.v) AS BIGINT)
       END AS chi2_e6
FROM folded CROSS JOIN ns
"""

QUERIES["logrank_test"] = (logrank_test, _LOGRANK_SQL)


# ---------------------------------------------------------------------------
# interval_union_length: per-user covered time from overlapping intervals
# ---------------------------------------------------------------------------
IVU_BUCKET_S = 3600 * 4   # 4-hour histogram buckets of covered time


def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total covered time per user when each event opens an interval
    [ts, ts + dur) (dur derives deterministically from the value:
    cents % 3600 + 60 seconds) and overlaps must not double-count —
    the classic interval-union sweep, reported as a bounded histogram
    of per-user covered hours. The pattern behind billable-time,
    machine-uptime, and session-coverage questions.

    The sweep is one window per user ordered by start: each interval
    contributes max(0, end − max(start, max_prev_end)) where
    max_prev_end is the running max of ends over PRECEDING rows —
    exact integer microseconds, no fold.

    Scale: one keyed shuffle (user windows); the histogram reduce is
    map-side combinable. Never a global sort.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("s"),
        F.expr("(cast(round(value * 100) as bigint) % 3600 + 60)"
               " * 1000000").alias("dur_us"))
    w = (Window.partitionBy("user_id").orderBy("s", "e")
         .rowsBetween(Window.unboundedPreceding, -1))
    iv = (ev.select("user_id", "s", (F.col("s") + F.col("dur_us"))
                    .alias("e"))
          .withColumn("prev_max_e", F.max("e").over(w))
          .select("user_id",
                  F.greatest(
                      F.lit(0),
                      F.col("e") - F.greatest(
                          F.col("s"),
                          F.coalesce("prev_max_e", F.col("s"))))
                  .alias("cov_us")))
    per_user = (iv.groupBy("user_id")
                .agg(F.expr("sum(cov_us) div 1000000").alias("cov_s")))
    return (per_user
            .groupBy(F.expr(f"cov_s div {IVU_BUCKET_S}")
                      .alias("cov_bucket"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"),
                 F.sum("cov_s").cast("long").alias("sum_covered_s")))


_IVU_SQL = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS s,
         (CAST(round(value * 100) AS BIGINT) % 3600 + 60) * 1000000
             AS dur_us
  FROM events
),
iv AS (
  SELECT user_id,
         greatest(0, e - greatest(s, coalesce(prev_max_e, s))) AS cov_us
  FROM (
    SELECT user_id, s, s + dur_us AS e,
           max(s + dur_us) OVER (PARTITION BY user_id
               ORDER BY s, s + dur_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_max_e
    FROM ev
  )
),
per_user AS (
  SELECT user_id, CAST(sum(cov_us) AS BIGINT) // 1000000 AS cov_s
  FROM iv GROUP BY 1
)
SELECT cov_s // {IVU_BUCKET_S} AS cov_bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cov_s) AS BIGINT) AS sum_covered_s
FROM per_user
GROUP BY 1
"""

QUERIES["interval_union_length"] = (interval_union_length, _IVU_SQL)


# ---------------------------------------------------------------------------
# sample_ratio_mismatch: the SRM guardrail for a 50/50 assignment
# ---------------------------------------------------------------------------
SRM_CHI2_CRIT_E6 = 3_841_459   # chi-square(1) 0.95 critical value, e6


def sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check, the experimentation platform's
    first guardrail: users hash 50/50 into arms (pmod of the md5 of
    user_id — deterministic, the assignment itself); per DAY the
    one-degree chi-square statistic against the expected even split,
    flagged at the 0.95 critical value. A persistent SRM flag means
    the assignment or logging pipeline is biased and every downstream
    test is suspect.

    Determinism: per-day arm counts are exact ints (users counted
    DISTINCT per day); chi2 = (n0−n1)²/(n0+n1) — one double division,
    e6-floored; the flag is an integer compare.

    Scale: one (day, arm) distinct-user aggregate; the chi2 row set
    is day-bounded.
    """
    ev = load(spark, sf_dir, "events").select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
         .alias("day"),
        "user_id",
        F.expr("pmod(cast(conv(substr(md5(concat('arm:', cast(user_id"
               " as string))), 1, 12), 16, 10) as bigint), 2)").alias("arm"))
    day_arm = (ev.groupBy("day", "arm")
               .agg(F.countDistinct("user_id").cast("long").alias("n")))
    pivoted = (day_arm.groupBy("day")
               .agg(F.sum(F.when(F.col("arm") == 0, F.col("n"))
                          .otherwise(0)).alias("n0"),
                    F.sum(F.when(F.col("arm") == 1, F.col("n"))
                          .otherwise(0)).alias("n1")))
    chi2 = ("cast(floor(1000000 * (cast(n0 - n1 as double) * (n0 - n1))"
            " / (n0 + n1)) as bigint)")
    return pivoted.select(
        "day", "n0", "n1", F.expr(chi2).alias("chi2_e6"),
        (F.expr(chi2) > SRM_CHI2_CRIT_E6).cast("int").alias("srm_flag"))


_SRM_SQL = f"""
WITH ev AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
         (((CAST('0x' || substr(md5('arm:' || CAST(user_id AS VARCHAR)),
            1, 12) AS BIGINT) % 2) + 2) % 2) AS arm
  FROM events
),
day_arm AS (
  SELECT day, arm, CAST(count(DISTINCT user_id) AS BIGINT) AS n
  FROM ev GROUP BY 1, 2
),
pivoted AS (
  SELECT day,
         CAST(sum(CASE WHEN arm = 0 THEN n ELSE 0 END) AS BIGINT) AS n0,
         CAST(sum(CASE WHEN arm = 1 THEN n ELSE 0 END) AS BIGINT) AS n1
  FROM day_arm GROUP BY 1
)
SELECT day, n0, n1,
       CAST(floor(1000000 * (CAST(n0 - n1 AS DOUBLE) * (n0 - n1))
            / (n0 + n1)) AS BIGINT) AS chi2_e6,
       CAST(CASE WHEN CAST(floor(1000000 * (CAST(n0 - n1 AS DOUBLE)
                 * (n0 - n1)) / (n0 + n1)) AS BIGINT)
                 > {SRM_CHI2_CRIT_E6} THEN 1 ELSE 0 END AS INT)
           AS srm_flag
FROM pivoted
"""

QUERIES["sample_ratio_mismatch"] = (sample_ratio_mismatch, _SRM_SQL)


# --------------------------------------------------------------------
# Qini curve (cumulative uplift by targeting depth)
# --------------------------------------------------------------------

def qini_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve at 10 targeting depths: rank users by the engagement
    score (total events), and at each decile report the cumulative
    incremental conversions Qini(k) = Y_t(k) − Y_c(k)·N_t(k)/N_c(k) —
    the curve a targeting team integrates to decide HOW DEEP to run
    the treatment that ``uplift_by_engagement`` already localized.
    Treatment is the SRM-checked user_id parity; outcome is purchase
    conversion.

    Determinism: ranks come from score-RUN aggregates (groupBy
    n_events — the bounded engagement alphabet), cumulated descending;
    each decile picks its first crossing run via struct-min. The Qini
    value divides exact ints into a double once per output row.

    Scale: one user-keyed aggregate, one run-table window
    (aggregate-fed), a 10-row readout. No per-user global sort.
    """
    ev = load(spark, sf_dir, "events").select("user_id", "event_type")
    users = (ev.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("score"),
                  F.max((F.col("event_type") == "purchase").cast("long"))
                  .alias("y"))
             .select("score", "y",
                     (F.col("user_id") % 2 == 0).cast("long").alias("t")))
    runs = (users.groupBy("score")
            .agg(F.sum("t").alias("nt"),
                 F.sum(F.lit(1) - F.col("t")).alias("nc"),
                 F.sum(F.col("t") * F.col("y")).alias("yt"),
                 F.sum((F.lit(1) - F.col("t")) * F.col("y")).alias("yc")))
    from pyspark.sql import Window
    w = (Window.orderBy(F.desc("score"))
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = runs.select(
        "score",
        F.sum(F.col("nt") + F.col("nc")).over(w).alias("cumn"),
        F.sum("nt").over(w).alias("cnt_t"),
        F.sum("nc").over(w).alias("cnt_c"),
        F.sum("yt").over(w).alias("cyt"),
        F.sum("yc").over(w).alias("cyc"))
    tot = runs.agg(F.sum(F.col("nt") + F.col("nc")).alias("n"),
                   F.sum("nt").alias("n_treat"))
    dec = (cum.crossJoin(F.broadcast(tot))
           .select("*", F.explode(F.sequence(F.lit(1), F.lit(10)))
                   .alias("decile"))
           .where(10 * F.col("cumn") >= F.col("decile") * F.col("n"))
           .groupBy("decile")
           .agg(F.min(F.struct("cumn", "score", "cnt_t", "cnt_c",
                               "cyt", "cyc", "n_treat")).alias("m")))
    qini = (F.col("m.cyt").cast("double")
            - F.col("m.cyc").cast("double")
            * F.col("m.cnt_t").cast("double")
            / F.greatest(F.col("m.cnt_c"), F.lit(1)).cast("double"))
    return dec.select(
        F.col("decile").cast("int").alias("decile"),
        F.col("m.cumn").alias("cum_users"),
        F.col("m.cyt").alias("conv_treat"),
        F.col("m.cyc").alias("conv_ctrl"),
        F.floor(F.lit(1_000_000.0) * qini
                / F.col("m.n_treat").cast("double")).cast("long")
        .alias("qini_e6"))


_QINI_SQL = """
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS score,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y,
         CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END::BIGINT AS t
  FROM events GROUP BY user_id
), runs AS (
  SELECT score, CAST(sum(t) AS BIGINT) AS nt,
         CAST(sum(1 - t) AS BIGINT) AS nc,
         CAST(sum(t * y) AS BIGINT) AS yt,
         CAST(sum((1 - t) * y) AS BIGINT) AS yc
  FROM users GROUP BY 1
), cum AS (
  SELECT score,
         CAST(sum(nt + nc) OVER w AS BIGINT) AS cumn,
         CAST(sum(nt) OVER w AS BIGINT) AS cnt_t,
         CAST(sum(nc) OVER w AS BIGINT) AS cnt_c,
         CAST(sum(yt) OVER w AS BIGINT) AS cyt,
         CAST(sum(yc) OVER w AS BIGINT) AS cyc
  FROM runs
  WINDOW w AS (ORDER BY score DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), tot AS (
  SELECT CAST(sum(nt + nc) AS BIGINT) AS n,
         CAST(sum(nt) AS BIGINT) AS n_treat
  FROM runs
), dec AS (
  SELECT d.decile,
         min(struct_pack(cumn := c.cumn, score := c.score,
                         cnt_t := c.cnt_t, cnt_c := c.cnt_c,
                         cyt := c.cyt, cyc := c.cyc,
                         n_treat := t.n_treat)) AS m
  FROM cum c CROSS JOIN tot t
  CROSS JOIN unnest(range(1, 11)) AS d(decile)
  WHERE 10 * c.cumn >= d.decile * t.n
  GROUP BY d.decile
)
SELECT CAST(decile AS INT) AS decile,
       m.cumn AS cum_users, m.cyt AS conv_treat, m.cyc AS conv_ctrl,
       CAST(floor(1000000.0
            * (CAST(m.cyt AS DOUBLE)
               - CAST(m.cyc AS DOUBLE) * CAST(m.cnt_t AS DOUBLE)
                 / CAST(greatest(m.cnt_c, 1) AS DOUBLE))
            / CAST(m.n_treat AS DOUBLE)) AS BIGINT) AS qini_e6
FROM dec
"""

QUERIES["qini_curve_deciles"] = (qini_curve_deciles, _QINI_SQL)


# --------------------------------------------------------------------
# Restricted mean survival time (area under the KM curve up to tau)
# --------------------------------------------------------------------
_RMST_TAU = 24   # months


def rmst_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time: the area under the
    ``kaplan_meier_churn`` step curve up to τ={_RMST_TAU} months —
    "expected customer-months survived in the first two years", the
    single-number summary a finance model actually consumes (medians
    break when the curve never crosses 0.5; means break under
    censoring; RMST does neither). The integral folds over the
    month-ordered risk table as a LIST accumulator
    [prev_t, surv_e12, rmst_e12]: each step banks surv·Δt then steps
    the survival by the exact integer (n−d) div n rational in e12
    fixed-point — bit-identical across engines, no libm anywhere.

    Scale: identical inputs to the KM twin (one keyed aggregate +
    report-sized month table); the fold is one bounded row.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("oday").alias("d0"), F.max("oday").alias("d1"))
    mx = F.broadcast(per_cust.agg(F.max("d1").alias("dmax")))
    lif = (per_cust.crossJoin(mx)
           .select(((F.col("d1") - F.col("d0")) / 30).cast("long")
                   .alias("m"),
                   (F.col("d1") < F.col("dmax") - _KM_CENSOR_DAYS)
                   .cast("long").alias("event")))
    monthly = (lif.groupBy("m")
               .agg(F.count(F.lit(1)).alias("ending"),
                    F.sum("event").alias("d")))
    from pyspark.sql import Window
    w_rev = (Window.orderBy(F.desc("m"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = monthly.select(
        "m", "d", F.sum("ending").over(w_rev).alias("n_risk"))
    folded = (risk.where(F.col("m") <= _RMST_TAU)
              .select(F.struct("m", "d", "n_risk").alias("s"))
              .agg(F.expr("array_sort(collect_list(s))").alias("xs")))
    fold = f"""
  aggregate(
    transform(xs, s -> array(s.m, s.d, s.n_risk)),
    array(cast(0 as bigint), cast(1000000000000 as bigint),
          cast(0 as bigint)),
    (acc, e) -> array(
      element_at(e, 1),
      (element_at(acc, 2) * (element_at(e, 3) - element_at(e, 2)))
          div element_at(e, 3),
      element_at(acc, 3)
        + element_at(acc, 2)
          * (least(element_at(e, 1), cast({_RMST_TAU} as bigint))
             - element_at(acc, 1))))
"""
    return folded.select(
        F.lit(_RMST_TAU).cast("int").alias("tau_months"),
        F.expr(f"element_at({fold}, 3)"
               f" + element_at({fold}, 2)"
               f" * ({_RMST_TAU} - element_at({fold}, 1))")
        .alias("rmst_e12_months"),
        F.expr(f"element_at({fold}, 2)").alias("surv_at_tau_e12"))


_RMST_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         min(epoch_us(o_orderdate) // 86400000000) AS d0,
         max(epoch_us(o_orderdate) // 86400000000) AS d1
  FROM orders GROUP BY 1
), lif AS (
  SELECT CAST((d1 - d0) // 30 AS BIGINT) AS m,
         CASE WHEN d1 < (SELECT max(d1) FROM per_cust) - {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS event
  FROM per_cust
), monthly AS (
  SELECT m, CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(event) AS BIGINT) AS d
  FROM lif GROUP BY 1
), risk AS (
  SELECT m, d,
         CAST(sum(ending) OVER (ORDER BY m DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_risk
  FROM monthly
), arr AS (
  SELECT list([m, d, n_risk] ORDER BY m) AS xs
  FROM risk WHERE m <= {_RMST_TAU}
), folded AS (
  SELECT list_reduce(
    list_prepend([0::BIGINT, 1000000000000::BIGINT, 0::BIGINT], xs),
    (acc, e) -> [
      e[1],
      (acc[2] * (e[3] - e[2])) // e[3],
      acc[3] + acc[2] * (least(e[1], {_RMST_TAU}::BIGINT) - acc[1])
    ]) AS a
  FROM arr
)
SELECT CAST({_RMST_TAU} AS INT) AS tau_months,
       a[3] + a[2] * ({_RMST_TAU} - a[1]) AS rmst_e12_months,
       a[2] AS surv_at_tau_e12
FROM folded
"""

QUERIES["rmst_survival"] = (rmst_survival, _RMST_SQL)


# --------------------------------------------------------------------
# Markov removal-effect attribution (absorption-probability model)
# --------------------------------------------------------------------
# states: 1=START, 2..5 = channels (click,error,signup,view), 6=CONV
# (purchase), 7=NULL (journey ends unconverted). K power iterations of
# the absorption recursion in e12 fixed-point.
_MRA_CHANNELS = ("click", "error", "signup", "view")
_MRA_K = 20
_MRA_CONV, _MRA_NULL = 6, 7


def _mra_fold_expr(eng: str) -> str:
    """One shared generator emits the 63-slot fold for BOTH engines
    (slots 1..49 = matrix counts row-major, 50..56 = row totals,
    57..63 = absorption vector) so the expressions cannot drift."""
    if eng == "spark":
        def at(n):  # noqa: E306
            return f"element_at(acc, {n})"
        div, arr = "div", "array"
    else:
        def at(n):
            return f"acc[{n}]"
        div, arr = "//", "list_value"
    slots = []
    for p in range(1, 57):
        slots.append(at(p))
    for i in range(1, 8):       # state slots 57..63
        if i == _MRA_CONV:
            slots.append("cast(1000000000000 as bigint)")
        elif i == _MRA_NULL:
            slots.append("cast(0 as bigint)")
        else:
            terms = " + ".join(
                f"({at((i - 1) * 7 + j)} * {at(56 + j)})"
                for j in range(1, 8))
            slots.append(
                f"(({terms}) {div} greatest({at(49 + i)},"
                f" cast(1 as bigint)))")
    body = ", ".join(slots)
    if eng == "spark":
        return (f"aggregate(transform(sequence(1, {_MRA_K}),"
                f" k -> array(cast(k as bigint))),"
                f" m63, (acc, e) -> array({body}))")
    return (f"list_reduce(list_prepend(m63,"
            f" list_transform(range(1, {_MRA_K} + 1),"
            f" k -> [CAST(k AS BIGINT)])),"
            f" (acc, e) -> {arr}({body}))")


def markov_removal_attribution(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Markov removal-effect channel attribution: model each user's
    pre-purchase event journey as a first-order chain over
    START/channel/CONV/NULL states, compute the conversion-absorption
    probability from START by {_MRA_K} power iterations, then re-run
    the SAME recursion with each channel's inbound edges redirected to
    NULL — the drop in absorption probability is that channel's
    removal effect (the data-driven cousin of ``last_touch_`` /
    ``position_based_`` / ``shapley_channel_attribution``). Every
    iteration step is Σ_j n_ij·a_j div r_i on exact int64 (e12
    vector), so the whole model is bit-identical cross-engine; the
    63-slot fold text itself is emitted by ONE generator for both
    engines.

    Scale: journeys reduce to a 7×7 transition-count matrix in one
    keyed aggregate; the 5 variants × {_MRA_K} iterations run on
    5 one-row frames. Output: channel, base and removed absorption
    (e12), removal_effect_e6 (exact integer division).
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"))
    first_buy = (ev.where(F.col("event_type") == "purchase")
                 .groupBy("user_id")
                 .agg(F.min(F.struct("us", "event_id")).alias("fb")))
    j = (ev.join(first_buy, "user_id", "left")
         .where(F.col("fb").isNull()
                | (F.struct("us", "event_id") <= F.col("fb"))))
    state = (F.when(F.col("event_type") == "purchase", _MRA_CONV)
             .otherwise(F.array_position(
                 F.array(*[F.lit(c) for c in _MRA_CHANNELS]),
                 F.col("event_type")) + 1)).cast("long")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = j.select("user_id", state.alias("s"),
                   F.lead(state).over(w).alias("nxt"),
                   F.row_number().over(w).alias("rn"))
    trans = (seq.select(
        F.when(F.col("rn") == 1, F.lit(1)).otherwise(None).alias("extra"),
        "s",
        F.coalesce(F.col("nxt"),
                   F.when(F.col("s") == _MRA_CONV, None)
                   .otherwise(F.lit(_MRA_NULL))).alias("t")))
    start_edges = (seq.where(F.col("rn") == 1)
                   .select(F.lit(1).cast("long").alias("s"),
                           F.col("s").alias("t")))
    edges = (trans.where(F.col("t").isNotNull()).select("s", "t")
             .unionByName(start_edges)
             .where(F.col("s") != _MRA_CONV))
    counts = edges.groupBy("s", "t").agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, 8).select(F.col("id").alias("s")) \
        .crossJoin(spark.range(1, 8).select(F.col("id").alias("t")))
    full = (spine.join(counts, ["s", "t"], "left")
            .select("s", "t", F.coalesce("n", F.lit(0)).alias("n")))
    m49 = full.agg(F.expr(
        "transform(array_sort(collect_list(struct(s, t, n))),"
        " x -> x.n)").alias("m"))
    variants = m49.select("m", F.explode(F.array(
        *[F.lit(v) for v in range(0, len(_MRA_CHANNELS) + 1)]))
        .alias("v"))
    # removal: inbound edges of channel state (v+1) redirect to NULL
    mod = ("transform(sequence(1, 49), p -> CASE"
           " WHEN v = 0 THEN element_at(m, p)"
           " WHEN pmod(p - 1, 7) + 1 = v + 1 THEN cast(0 as bigint)"
           " WHEN pmod(p - 1, 7) + 1 = 7 THEN element_at(m, p)"
           "   + element_at(m, p - 7 + v + 1)"
           " ELSE element_at(m, p) END)")
    rows_ = ("transform(sequence(1, 7), i -> "
             "aggregate(slice(mm, (i - 1) * 7 + 1, 7),"
             " cast(0 as bigint), (a, x) -> a + x))")
    init = ("concat(mm, " + rows_ + ", array(cast(0 as bigint),"
            " cast(0 as bigint), cast(0 as bigint), cast(0 as bigint),"
            " cast(0 as bigint), cast(1000000000000 as bigint),"
            " cast(0 as bigint)))")
    folded = (variants
              .select("v", F.expr(mod).alias("mm"))
              .select("v", F.expr(init).alias("m63"))
              .select("v", F.expr(
                  f"element_at({_mra_fold_expr('spark')}, 57)")
                  .alias("absorb_e12")))
    base = (folded.where(F.col("v") == 0)
            .select(F.col("absorb_e12").alias("base_e12")))
    return (folded.where(F.col("v") > 0)
            .crossJoin(F.broadcast(base))
            .select(
                F.element_at(F.array(*[F.lit(c) for c in _MRA_CHANNELS]),
                             F.col("v").cast("int")).alias("channel"),
                "base_e12",
                F.col("absorb_e12").alias("removed_e12"),
                F.expr("(1000000 * (base_e12 - absorb_e12))"
                       " div greatest(base_e12, cast(1 as bigint))")
                .alias("removal_effect_e6")))


def _mra_sql() -> str:
    chans = ", ".join(f"'{c}'" for c in _MRA_CHANNELS)
    return f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us
  FROM events
), first_buy AS (
  SELECT user_id, min(struct_pack(us := us, event_id := event_id)) AS fb
  FROM ev WHERE event_type = 'purchase' GROUP BY 1
), j AS (
  SELECT e.user_id, e.event_type, e.event_id, e.us
  FROM ev e LEFT JOIN first_buy f ON e.user_id = f.user_id
  WHERE f.fb IS NULL
     OR struct_pack(us := e.us, event_id := e.event_id) <= f.fb
), seq AS (
  SELECT user_id,
         CASE WHEN event_type = 'purchase' THEN {_MRA_CONV}
              ELSE list_position([{chans}], event_type) + 1
         END::BIGINT AS s,
         lead(CASE WHEN event_type = 'purchase' THEN {_MRA_CONV}
                   ELSE list_position([{chans}], event_type) + 1
              END::BIGINT)
             OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt,
         row_number()
             OVER (PARTITION BY user_id ORDER BY us, event_id) AS rn
  FROM j
), edges AS (
  SELECT s, COALESCE(nxt, CASE WHEN s = {_MRA_CONV} THEN NULL
                               ELSE {_MRA_NULL} END) AS t
  FROM seq
  UNION ALL
  SELECT 1::BIGINT AS s, s AS t FROM seq WHERE rn = 1
), counts AS (
  SELECT s, t, CAST(count(*) AS BIGINT) AS n
  FROM edges WHERE t IS NOT NULL AND s <> {_MRA_CONV}
  GROUP BY 1, 2
), spine AS (
  SELECT CAST(a.i AS BIGINT) AS s, CAST(b.j AS BIGINT) AS t
  FROM unnest(range(1, 8)) a(i), unnest(range(1, 8)) b(j)
), m49 AS (
  SELECT list_transform(
      list(struct_pack(s := sp.s, t := sp.t,
                       n := COALESCE(c.n, 0)) ORDER BY sp.s, sp.t),
      x -> x.n) AS m
  FROM spine sp LEFT JOIN counts c ON sp.s = c.s AND sp.t = c.t
), variants AS (
  SELECT m, CAST(v.v AS BIGINT) AS v
  FROM m49, unnest(range(0, {len(_MRA_CHANNELS) + 1})) v(v)
), modm AS (
  SELECT v, list_transform(range(1, 50), p -> CASE
      WHEN v = 0 THEN m[p]
      WHEN ((p - 1) % 7) + 1 = v + 1 THEN 0::BIGINT
      WHEN ((p - 1) % 7) + 1 = 7 THEN m[p] + m[p - 7 + v + 1]
      ELSE m[p] END) AS mm
  FROM variants
), inits AS (
  SELECT v, mm || list_transform(range(1, 8), i ->
             list_reduce(list_prepend(0::BIGINT,
                 list_slice(mm, (i - 1) * 7 + 1, (i - 1) * 7 + 7)),
                 (a, x) -> a + x))
           || [0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT, 0::BIGINT,
               1000000000000::BIGINT, 0::BIGINT] AS m63
  FROM modm
), folded AS (
  SELECT v, ({_mra_fold_expr('duck')})[57] AS absorb_e12
  FROM inits
), base AS (
  SELECT absorb_e12 AS base_e12 FROM folded WHERE v = 0
)
SELECT ([{chans}])[CAST(f.v AS INT)] AS channel,
       b.base_e12, f.absorb_e12 AS removed_e12,
       (1000000 * (b.base_e12 - f.absorb_e12))
           // greatest(b.base_e12, 1::BIGINT) AS removal_effect_e6
FROM folded f, base b
WHERE f.v > 0
"""


QUERIES["markov_removal_attribution"] = (markov_removal_attribution,
                                         _mra_sql())


# --------------------------------------------------------------------
# Cramer's V association strength (with Bergsma bias correction)
# --------------------------------------------------------------------

def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect size for the nation × market-segment contingency that
    ``chi2_independence`` only tests: Cramér's V = √(χ²/(N·min(r−1,
    c−1))) plus the Bergsma bias-corrected variant (the raw V inflates
    on large sparse tables). Same exact-integer cell machinery as the
    chi2 twin — observed counts, marginals and N are int64; each χ²
    term is one double from exact inputs summed over the cell-sorted
    fold; √ is IEEE-exact.

    Scale: one keyed aggregate to ≤125 cells, marginal rollups of that
    tiny frame, a 1-row readout.
    """
    cust = load(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment")
    cells = (cust.groupBy("c_nationkey", "c_mktsegment")
             .agg(F.count(F.lit(1)).alias("o")))
    rows_m = cells.groupBy("c_nationkey").agg(F.sum("o").alias("r"))
    cols_m = cells.groupBy("c_mktsegment").agg(F.sum("o").alias("c"))
    tot = cells.agg(F.sum("o").alias("nn"),
                    F.countDistinct("c_nationkey").alias("nr"),
                    F.countDistinct("c_mktsegment").alias("nc"))
    j = (cells.join(F.broadcast(rows_m), "c_nationkey")
         .join(F.broadcast(cols_m), "c_mktsegment")
         .crossJoin(F.broadcast(tot)))
    arr = j.agg(
        F.array_sort(F.collect_list(F.struct(
            "c_nationkey", "c_mktsegment", "o", "r", "c", "nn")))
        .alias("xs"),
        F.max("nn").alias("nn"), F.max("nr").alias("nr"),
        F.max("nc").alias("nc"))
    chi2 = F.aggregate(
        F.col("xs"), F.lit(0.0),
        lambda a, e: a + (
            (e["o"] * e["nn"] - e["r"] * e["c"]).cast("double")
            * (e["o"] * e["nn"] - e["r"] * e["c"]).cast("double")
            / (e["nn"].cast("double") * e["r"].cast("double")
               * e["c"].cast("double"))))
    nd = F.col("nn").cast("double")
    rd, cd = F.col("nr").cast("double"), F.col("nc").cast("double")
    phi2 = F.col("chi2") / nd
    phi2p = F.greatest(F.lit(0.0),
                       phi2 - (rd - 1.0) * (cd - 1.0) / (nd - 1.0))
    rp = rd - (rd - 1.0) * (rd - 1.0) / (nd - 1.0)
    cp = cd - (cd - 1.0) * (cd - 1.0) / (nd - 1.0)
    return (arr.select("nn", "nr", "nc", chi2.alias("chi2"))
            .select(
                "nn", F.col("nr").cast("int").alias("r_levels"),
                F.col("nc").cast("int").alias("c_levels"),
                F.floor(F.lit(1e6) * F.col("chi2")).cast("long")
                .alias("chi2_e6"),
                F.floor(F.lit(1e6) * F.sqrt(
                    F.col("chi2") / (nd * F.least(rd - 1.0, cd - 1.0))))
                .cast("long").alias("v_e6"),
                F.floor(F.lit(1e6) * F.sqrt(
                    phi2p / F.least(rp - 1.0, cp - 1.0)))
                .cast("long").alias("v_corrected_e6")))


_CRAMERS_SQL = """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS o
  FROM customer GROUP BY 1, 2
), rows_m AS (
  SELECT c_nationkey, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY 1
), cols_m AS (
  SELECT c_mktsegment, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY 1
), tot AS (
  SELECT CAST(sum(o) AS BIGINT) AS nn,
         CAST(count(DISTINCT c_nationkey) AS BIGINT) AS nr,
         CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS nc
  FROM cells
), arr AS (
  SELECT list(struct_pack(nk := ce.c_nationkey, sg := ce.c_mktsegment,
                          o := ce.o, r := rm.r, c := cm.c, nn := t.nn)
              ORDER BY ce.c_nationkey, ce.c_mktsegment) AS xs,
         max(t.nn) AS nn, max(t.nr) AS nr, max(t.nc) AS nc
  FROM cells ce
  JOIN rows_m rm ON ce.c_nationkey = rm.c_nationkey
  JOIN cols_m cm ON ce.c_mktsegment = cm.c_mktsegment
  CROSS JOIN tot t
), folded AS (
  SELECT nn, nr, nc,
         list_reduce(list_prepend(0.0, list_transform(xs, e ->
             CAST(e.o * e.nn - e.r * e.c AS DOUBLE)
             * CAST(e.o * e.nn - e.r * e.c AS DOUBLE)
             / (CAST(e.nn AS DOUBLE) * CAST(e.r AS DOUBLE)
                * CAST(e.c AS DOUBLE)))),
             (a, x) -> a + x) AS chi2
  FROM arr
)
SELECT nn, CAST(nr AS INT) AS r_levels, CAST(nc AS INT) AS c_levels,
       CAST(floor(1e6 * chi2) AS BIGINT) AS chi2_e6,
       CAST(floor(1e6 * sqrt(chi2 / (CAST(nn AS DOUBLE)
            * least(CAST(nr AS DOUBLE) - 1.0, CAST(nc AS DOUBLE) - 1.0))))
            AS BIGINT) AS v_e6,
       CAST(floor(1e6 * sqrt(
            greatest(0.0, chi2 / CAST(nn AS DOUBLE)
                     - (CAST(nr AS DOUBLE) - 1.0)
                       * (CAST(nc AS DOUBLE) - 1.0)
                       / (CAST(nn AS DOUBLE) - 1.0))
            / least(CAST(nr AS DOUBLE)
                    - (CAST(nr AS DOUBLE) - 1.0)
                      * (CAST(nr AS DOUBLE) - 1.0)
                      / (CAST(nn AS DOUBLE) - 1.0) - 1.0,
                    CAST(nc AS DOUBLE)
                    - (CAST(nc AS DOUBLE) - 1.0)
                      * (CAST(nc AS DOUBLE) - 1.0)
                      / (CAST(nn AS DOUBLE) - 1.0) - 1.0)))
            AS BIGINT) AS v_corrected_e6
FROM folded
"""

QUERIES["cramers_v_association"] = (cramers_v_association, _CRAMERS_SQL)


# --------------------------------------------------------------------
# DAU / trailing-7-day WAU stickiness
# --------------------------------------------------------------------

def dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product stickiness per day: DAU / trailing-7-day WAU, both
    EXACT distinct counts — the engagement-density ratio read next to
    ``rolling_active_users`` (which tracks the windowed levels) and
    the exact twin of the approximate ``hll_rolling_distinct``. WAU
    membership materializes by exploding each (user, day) presence row
    to the 7 future days it keeps the user active in — presence-sized
    ×7, never corpus-sized — then one distinct count per day.

    Scale: presence dedup is the corpus shuffle (16-byte keys); the
    ×7 explode and the two per-day distinct aggregates run on the
    (users × days)-bounded presence table.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {86_400_000_000}")
        .alias("day"))
    pres = ev.select("user_id", "day").distinct()
    span = pres.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = pres.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    wau = (pres.select(
        "user_id", F.explode(F.sequence(F.col("day"),
                                        F.col("day") + 6)).alias("wday"))
        .crossJoin(F.broadcast(span))
        .where(F.col("wday") <= F.col("d1"))
        .groupBy(F.col("wday").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau")))
    return (dau.join(wau, "day")
            .select("day", "dau", "wau",
                    F.expr("(1000000 * dau) div wau")
                    .alias("stickiness_e6")))


_DAU_WAU_SQL = """
WITH pres AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events
), span AS (SELECT max(day) AS d1 FROM pres),
dau AS (
  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
  FROM pres GROUP BY 1
), wau AS (
  SELECT u.wday AS day, CAST(count(DISTINCT p.user_id) AS BIGINT) AS wau
  FROM pres p, unnest(range(p.day, p.day + 7)) AS u(wday), span s
  WHERE u.wday <= s.d1
  GROUP BY 1
)
SELECT d.day, d.dau, w.wau,
       (1000000 * d.dau) // w.wau AS stickiness_e6
FROM dau d JOIN wau w ON d.day = w.day
"""

QUERIES["dau_wau_stickiness"] = (dau_wau_stickiness, _DAU_WAU_SQL)


# --------------------------------------------------------------------
# Chain-ladder development projection (actuarial triangle)
# --------------------------------------------------------------------

def chain_ladder_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actuarial chain-ladder on the customer-spend development
    triangle: cohort = month of a customer's FIRST order, development
    lag = months since; the observed triangle's volume-weighted
    development factors f_l = ΣC_{·,l+1}/ΣC_{·,l} project every
    cohort's latest cumulative spend to ultimate — the classic
    reserving estimate, reused verbatim by growth teams for revenue
    run-out. Factors are ratios of exact int64 dollar sums; each
    cohort's ultimate multiplies its exact known value by a
    fixed-order suffix-product fold of those doubles.

    Scale: the corpus reduces to a calendar-bounded cohort×lag
    triangle (≤ months²/2 cells) in one keyed aggregate + one
    partitioned cumulative window; factors and suffix products live on
    that bounded frame. Output: one row per cohort.
    """
    dollars = F.floor((F.round(F.col("o_totalprice") * 100) + 50) / 100.0) \
        .cast("long")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", dollars.alias("d"),
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    m0 = orders.agg(F.min("oday").alias("day0"))
    om = (orders.crossJoin(F.broadcast(m0))
          .select("o_custkey", "d",
                  F.expr("(oday - day0) div 30").alias("m")))
    first = om.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    inc = (om.join(first, "o_custkey")
           .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("lag"))
           .agg(F.sum("d").alias("inc")))
    maxm = om.agg(F.max("m").alias("maxm"))
    spine = (first.select("cohort").distinct()
             .crossJoin(F.broadcast(maxm))
             .select("cohort", "maxm",
                     F.explode(F.sequence(
                         F.lit(0),
                         (F.col("maxm") - F.col("cohort")).cast("int")))
                     .alias("lag")))
    cells = (spine.join(inc, ["cohort", "lag"], "left")
             .select("cohort", "lag", "maxm",
                     F.coalesce("inc", F.lit(0)).alias("inc")))
    wc = (Window.partitionBy("cohort").orderBy("lag")
          .rowsBetween(Window.unboundedPreceding, 0))
    cum = cells.select("cohort", "lag", "maxm",
                       F.sum("inc").over(wc).alias("c"))
    nxt = cum.select(F.col("cohort").alias("co2"),
                     (F.col("lag") - 1).alias("lag2"),
                     F.col("c").alias("c_next"))
    fac = (cum.join(nxt, (cum.cohort == nxt.co2)
                    & (cum.lag == nxt.lag2))
           .groupBy("lag")
           .agg((F.sum("c_next").cast("double")
                 / F.sum("c").cast("double")).alias("f")))
    farr = fac.agg(F.expr(
        "transform(array_sort(collect_list(struct(lag, f))), t -> t.f)")
        .alias("fs"))
    latest = (cum.where(F.col("lag") == F.col("maxm") - F.col("cohort"))
              .select("cohort", F.col("lag").alias("latest_lag"),
                      F.col("c").alias("known_dollars")))
    return (latest.crossJoin(F.broadcast(farr))
            .select(
                "cohort", "latest_lag", "known_dollars",
                F.floor(F.expr(
                    "known_dollars * aggregate("
                    "slice(fs, latest_lag + 1,"
                    " greatest(size(fs) - latest_lag, 0)),"
                    " cast(1.0 as double), (a, x) -> a * x)"))
                .cast("long").alias("ultimate_dollars")))


_CHAIN_SQL = """
WITH orders_m AS (
  SELECT o_custkey,
         CAST(floor((round(o_totalprice * 100) + 50) / 100.0) AS BIGINT)
             AS d,
         (epoch_us(o_orderdate) // 86400000000
          - (SELECT min(epoch_us(o_orderdate) // 86400000000)
             FROM orders)) // 30 AS m
  FROM orders
), first AS (
  SELECT o_custkey, CAST(min(m) AS BIGINT) AS cohort
  FROM orders_m GROUP BY 1
), inc AS (
  SELECT f.cohort, o.m - f.cohort AS lag, CAST(sum(o.d) AS BIGINT) AS inc
  FROM orders_m o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
), maxm AS (SELECT max(m) AS maxm FROM orders_m),
spine AS (
  SELECT c.cohort, x.maxm, CAST(u.lag AS BIGINT) AS lag
  FROM (SELECT DISTINCT cohort FROM first) c, maxm x,
       unnest(range(0, x.maxm - c.cohort + 1)) AS u(lag)
), cells AS (
  SELECT s.cohort, s.lag, s.maxm, COALESCE(i.inc, 0) AS inc
  FROM spine s LEFT JOIN inc i
    ON s.cohort = i.cohort AND s.lag = i.lag
), cum AS (
  SELECT cohort, lag, maxm,
         CAST(sum(inc) OVER (PARTITION BY cohort ORDER BY lag
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS c
  FROM cells
), fac AS (
  SELECT a.lag,
         CAST(sum(b.c) AS DOUBLE) / CAST(sum(a.c) AS DOUBLE) AS f
  FROM cum a JOIN cum b
    ON a.cohort = b.cohort AND b.lag = a.lag + 1
  GROUP BY 1
), farr AS (
  SELECT list_transform(list(struct_pack(lag := lag, f := f)
                             ORDER BY lag), t -> t.f) AS fs
  FROM fac
), latest AS (
  SELECT cohort, lag AS latest_lag, c AS known_dollars
  FROM cum WHERE lag = maxm - cohort
)
SELECT l.cohort, l.latest_lag, l.known_dollars,
       CAST(floor(l.known_dollars * list_reduce(
           list_prepend(1.0::DOUBLE,
               list_slice(fs, l.latest_lag + 1,
                          greatest(len(fs), l.latest_lag))),
           (a, x) -> a * x)) AS BIGINT) AS ultimate_dollars
FROM latest l, farr
"""

QUERIES["chain_ladder_projection"] = (chain_ladder_projection, _CHAIN_SQL)


# --------------------------------------------------------------------
# Kaplan-Meier curve with Greenwood confidence bands
# --------------------------------------------------------------------

def km_greenwood_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``kaplan_meier_churn`` curve with Greenwood 95% bands:
    se(t) = S(t)·√(Σ_{i≤t} d_i/(n_i(n_i−d_i))) — the error bars any
    survival readout needs before month-over-month comparisons mean
    anything. Survival products and Greenwood sums both accumulate as
    per-prefix folds over the month-ordered risk array (the KM twin's
    quadratic-over-report-sized idiom); z=1.96 is a numeric literal
    and √ is IEEE-exact, so bands are bit-identical cross-engine.
    Months where n=d (everyone at risk churns) contribute a capped
    term via max(n−d, 1) in BOTH engines (se is meaningless past
    total collapse anyway, and the cap keeps the fold total).

    Scale: identical inputs to the KM twin — one keyed aggregate, a
    report-sized month table, bounded folds.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    per_cust = orders.groupBy("o_custkey").agg(
        F.min("oday").alias("d0"), F.max("oday").alias("d1"))
    mx = F.broadcast(per_cust.agg(F.max("d1").alias("dmax")))
    lif = (per_cust.crossJoin(mx)
           .select(((F.col("d1") - F.col("d0")) / 30).cast("long")
                   .alias("m"),
                   (F.col("d1") < F.col("dmax") - _KM_CENSOR_DAYS)
                   .cast("long").alias("event")))
    monthly = (lif.groupBy("m")
               .agg(F.count(F.lit(1)).alias("ending"),
                    F.sum("event").alias("d")))
    w_rev = (Window.orderBy(F.desc("m"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    risk = monthly.select(
        "m", "d", F.sum("ending").over(w_rev).alias("n_risk"))
    folded = (risk.select(F.struct("m", "d", "n_risk").alias("s"))
              .agg(F.expr("array_sort(collect_list(s))").alias("xs")))
    curve = (folded
             .select(F.posexplode(F.col("xs")).alias("p", "r"), "xs")
             .select(F.col("r.m").alias("m"),
                     F.col("r.n_risk").alias("n_risk"),
                     F.col("r.d").alias("churned"),
                     (F.col("p") + 1).cast("int").alias("i"), "xs"))
    surv = F.expr(
        "aggregate(slice(xs, 1, i), cast(1.0 as double),"
        " (a, e) -> a * (1.0 - cast(e.d as double)"
        " / cast(e.n_risk as double)))")
    gw = F.expr(
        "aggregate(slice(xs, 1, i), cast(0.0 as double),"
        " (a, e) -> a + cast(e.d as double)"
        " / (cast(e.n_risk as double)"
        "    * cast(greatest(e.n_risk - e.d, 1) as double)))")
    half = F.lit(1.959964) * surv * F.sqrt(gw)
    return curve.select(
        "m", "n_risk", "churned",
        F.floor(F.lit(1e6) * surv).cast("long").alias("surv_e6"),
        F.floor(F.lit(1e6) * F.greatest(surv - half, F.lit(0.0)))
        .cast("long").alias("lo95_e6"),
        F.floor(F.lit(1e6) * F.least(surv + half, F.lit(1.0)))
        .cast("long").alias("hi95_e6"))


_KM_GW_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         min(epoch_us(o_orderdate) // 86400000000) AS d0,
         max(epoch_us(o_orderdate) // 86400000000) AS d1
  FROM orders GROUP BY 1
), lif AS (
  SELECT CAST((d1 - d0) // 30 AS BIGINT) AS m,
         CASE WHEN d1 < (SELECT max(d1) FROM per_cust) - {_KM_CENSOR_DAYS}
              THEN 1 ELSE 0 END AS event
  FROM per_cust
), monthly AS (
  SELECT m, CAST(count(*) AS BIGINT) AS ending,
         CAST(sum(event) AS BIGINT) AS d
  FROM lif GROUP BY 1
), risk AS (
  SELECT m, d,
         CAST(sum(ending) OVER (ORDER BY m DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_risk
  FROM monthly
), arr AS (
  SELECT list(struct_pack(m := m, d := d, n_risk := n_risk)
              ORDER BY m) AS xs
  FROM risk
), rows_i AS (
  SELECT xs, CAST(u.i AS INT) AS i FROM arr, unnest(range(1, len(xs) + 1)) u(i)
), scored AS (
  SELECT xs[i].m AS m, xs[i].n_risk AS n_risk, xs[i].d AS churned,
         list_reduce(list_prepend(1.0::DOUBLE,
             list_transform(list_slice(xs, 1, i),
                 e -> 1.0 - CAST(e.d AS DOUBLE) / e.n_risk)),
             (a, x) -> a * x) AS surv,
         list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_slice(xs, 1, i),
                 e -> CAST(e.d AS DOUBLE)
                      / (CAST(e.n_risk AS DOUBLE)
                         * CAST(greatest(e.n_risk - e.d, 1) AS DOUBLE)))),
             (a, x) -> a + x) AS gw
  FROM rows_i
)
SELECT m, n_risk, churned,
       CAST(floor(1e6 * surv) AS BIGINT) AS surv_e6,
       CAST(floor(1e6 * greatest(surv - 1.959964 * surv * sqrt(gw), 0.0))
            AS BIGINT) AS lo95_e6,
       CAST(floor(1e6 * least(surv + 1.959964 * surv * sqrt(gw), 1.0))
            AS BIGINT) AS hi95_e6
FROM scored
"""

QUERIES["km_greenwood_ci"] = (km_greenwood_ci, _KM_GW_SQL)


# --------------------------------------------------------------------
# Net revenue retention by acquisition cohort
# --------------------------------------------------------------------
_NRR_MAX_K = 3


def nrr_by_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention: for each acquisition cohort (month of a
    customer's first order), month-k revenue as a share of month-0
    revenue, k = 1..{_NRR_MAX_K} — the growth-accounting readout on
    the same cohort×lag triangle ``chain_ladder_projection`` develops
    (NRR reads the triangle's rows; chain-ladder extrapolates its
    columns). Exact integer dollars; each NRR is one integer division;
    only (cohort, k) cells inside the observed triangle emit.

    Scale: one keyed aggregate to the calendar-bounded triangle, a
    self-join on cohort — nothing corpus-sized past the first shuffle.
    """
    dollars = F.floor((F.round(F.col("o_totalprice") * 100) + 50) / 100.0) \
        .cast("long")
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", dollars.alias("d"),
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    m0 = orders.agg(F.min("oday").alias("day0"))
    om = (orders.crossJoin(F.broadcast(m0))
          .select("o_custkey", "d",
                  F.expr("(oday - day0) div 30").alias("m")))
    first = om.groupBy("o_custkey").agg(F.min("m").alias("cohort"))
    inc = (om.join(first, "o_custkey")
           .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("lag"))
           .agg(F.sum("d").alias("inc")))
    maxm = F.broadcast(om.agg(F.max("m").alias("maxm")))
    base = (inc.where(F.col("lag") == 0)
            .select(F.col("cohort").alias("co2"),
                    F.col("inc").alias("base_dollars")))
    return (inc.where((F.col("lag") >= 1) & (F.col("lag") <= _NRR_MAX_K))
            .join(base, F.col("cohort") == F.col("co2"))
            .crossJoin(maxm)
            .where(F.col("cohort") + F.col("lag") <= F.col("maxm"))
            .select("cohort", F.col("lag").cast("int").alias("k"),
                    "base_dollars", F.col("inc").alias("k_dollars"),
                    F.expr("(1000000 * inc) div base_dollars")
                    .alias("nrr_e6")))


_NRR_SQL = f"""
WITH orders_m AS (
  SELECT o_custkey,
         CAST(floor((round(o_totalprice * 100) + 50) / 100.0) AS BIGINT)
             AS d,
         (epoch_us(o_orderdate) // 86400000000
          - (SELECT min(epoch_us(o_orderdate) // 86400000000)
             FROM orders)) // 30 AS m
  FROM orders
), first AS (
  SELECT o_custkey, CAST(min(m) AS BIGINT) AS cohort
  FROM orders_m GROUP BY 1
), inc AS (
  SELECT f.cohort, o.m - f.cohort AS lag, CAST(sum(o.d) AS BIGINT) AS inc
  FROM orders_m o JOIN first f ON o.o_custkey = f.o_custkey
  GROUP BY 1, 2
), maxm AS (SELECT max(m) AS maxm FROM orders_m),
base AS (
  SELECT cohort AS co2, inc AS base_dollars FROM inc WHERE lag = 0
)
SELECT i.cohort, CAST(i.lag AS INT) AS k, b.base_dollars,
       i.inc AS k_dollars,
       (1000000 * i.inc) // b.base_dollars AS nrr_e6
FROM inc i JOIN base b ON i.cohort = b.co2, maxm x
WHERE i.lag BETWEEN 1 AND {_NRR_MAX_K} AND i.cohort + i.lag <= x.maxm
"""

QUERIES["nrr_by_cohort"] = (nrr_by_cohort, _NRR_SQL)
