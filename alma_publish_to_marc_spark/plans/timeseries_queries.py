"""Time-series correlation analytics over the events stream.

Beyond-reference family (SURVEY.md §2.12): autocorrelation and
cross-series correlation — the signal-shape diagnostics a monitoring /
forecasting pipeline runs on event volumes (is traffic bursty? do
errors trail clicks?).

Cross-engine determinism: every Pearson correlation is computed from
INTEGER moment sums (n, Σx, Σy, Σx², Σy², Σxy over int64 daily
counts) — both engines produce identical int64 moments, and the only
floating-point ops are the final covariance/variance combination and
one sqrt on exact integers (identical IEEE doubles), then round(6).
Day indices are integer epoch-day arithmetic (CLAUDE.md: never
engine-native date parts for derived keys).

Scale: the daily-count matrix is tiny at ANY corpus scale (days ×
types rows — the reduction happens in the first map-side-combinable
aggregate over the raw 100 TB stream); everything after it is
effectively free. The window-lag step partitions by event_type —
5 keys here, but the same plan holds for thousands of series.
"""

from __future__ import annotations

from itertools import combinations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.tables import EVENT_TYPES, load, persist

QUERIES: dict = {}

_DAY_US = 86_400_000_000
_ACF_LAGS = (1, 2, 3)


def _daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (ev.select(F.col("event_type"),
                      F.expr(f"unix_micros(cast(ts as timestamp))"
                             f" div {_DAY_US}").alias("day"))
            .groupBy("event_type", "day")
            .agg(F.count(F.lit(1)).alias("x")))


_DAILY_SQL = f"""daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
)"""


def _acf_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's daily volume at lags 1–3.

    Pairs (x_t, x_{t+ℓ}) come from per-series window LEADs over the
    observed day sequence; Pearson r is assembled from six integer
    moments per (type, lag). r == NULL when a series has constant
    volume in the pair window (zero variance) — emitted as NULL by
    both engines rather than a divide crash.

    Scale: one keyed aggregate over the raw stream → ~(days × types)
    rows; the window and the moment aggregate run on that tiny frame.
    Int64 headroom: n·Σxy ≤ days²·max_daily² — fine through ~1e7
    events/day/type."""
    daily = _daily_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    leads = daily.select(
        "event_type", "x",
        *[F.lead("x", lag).over(w).alias(f"y{lag}") for lag in _ACF_LAGS])
    pairs = leads.select(
        "event_type",
        F.stack(F.lit(len(_ACF_LAGS)),
                *[arg for lag in _ACF_LAGS
                  for arg in (F.lit(lag), F.col("x"), F.col(f"y{lag}"))])
         .alias("lag", "xt", "yt")).where(F.col("yt").isNotNull())
    m = (pairs.groupBy("event_type", "lag")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("xt").alias("sx"), F.sum("yt").alias("sy"),
              F.sum(F.col("xt") * F.col("xt")).alias("sxx"),
              F.sum(F.col("yt") * F.col("yt")).alias("syy"),
              F.sum(F.col("xt") * F.col("yt")).alias("sxy")))
    num = (m.n * m.sxy - m.sx * m.sy).cast("double")
    denx = (m.n * m.sxx - m.sx * m.sx).cast("double")
    deny = (m.n * m.syy - m.sy * m.sy).cast("double")
    r = F.when((denx > 0) & (deny > 0),
               F.round(num / F.sqrt(denx * deny), 6))
    return m.select("event_type", "lag", "n", r.alias("acf"))


_ACF_STACK = " UNION ALL ".join(
    f"SELECT event_type, {lag} AS lag, x AS xt, y{lag} AS yt"
    f" FROM leads WHERE y{lag} IS NOT NULL" for lag in _ACF_LAGS)

_ACF_SQL = f"""
WITH {_DAILY_SQL},
leads AS (
  SELECT event_type, x,
         {', '.join(f"lead(x, {lag}) OVER (PARTITION BY event_type ORDER BY day) AS y{lag}"
                    for lag in _ACF_LAGS)}
  FROM daily
),
pairs AS ({_ACF_STACK}),
m AS (
  SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(xt) AS BIGINT) AS sx, CAST(sum(yt) AS BIGINT) AS sy,
         CAST(sum(xt * xt) AS BIGINT) AS sxx,
         CAST(sum(yt * yt) AS BIGINT) AS syy,
         CAST(sum(xt * yt) AS BIGINT) AS sxy
  FROM pairs GROUP BY 1, 2
)
SELECT event_type, CAST(lag AS INT) AS lag, n,
       CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS acf
FROM m
"""

QUERIES["acf_daily_events"] = (_acf_daily_events, _ACF_SQL)


# ---------------------------------------------------------------------------
# Cross-correlation between event-type daily series (lag 0)
# ---------------------------------------------------------------------------
_PAIRS = list(combinations(EVENT_TYPES, 2))


def _crosscorr_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between every pair of event types' daily
    volume series — do errors co-move with clicks? A missing
    (type, day) cell counts 0 (the series are aligned on the full
    observed day spine via conditional sums, not an inner join that
    would silently drop mismatched days).

    Scale: ONE aggregate builds the day × type count matrix as 5
    conditional int64 sums; a second 1-row aggregate produces all 20
    moments; the 10 pair correlations are pure literal arithmetic on
    that row. Nothing after the first reduction scales with data."""
    ev = load(spark, sf_dir, "events")
    day_rows = (ev.select(
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
         .alias("day"), "event_type")
        .groupBy("day")
        .agg(*[F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
               .cast("long").alias(f"c_{t}") for t in EVENT_TYPES]))
    aggs = [F.count(F.lit(1)).alias("n")]
    for t in EVENT_TYPES:
        aggs.append(F.sum(f"c_{t}").alias(f"s_{t}"))
        aggs.append(F.sum(F.col(f"c_{t}") * F.col(f"c_{t}"))
                    .alias(f"ss_{t}"))
    for a, b in _PAIRS:
        aggs.append(F.sum(F.col(f"c_{a}") * F.col(f"c_{b}"))
                    .alias(f"sp_{a}_{b}"))
    m = day_rows.agg(*aggs)

    out = []
    for a, b in _PAIRS:
        num = (F.col("n") * F.col(f"sp_{a}_{b}")
               - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        da = (F.col("n") * F.col(f"ss_{a}")
              - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
        db = (F.col("n") * F.col(f"ss_{b}")
              - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
        out.append(F.struct(
            F.lit(a).alias("type_a"), F.lit(b).alias("type_b"),
            F.when((da > 0) & (db > 0),
                   F.round(num / F.sqrt(da * db), 6)).alias("r")))
    return (m.select(F.explode(F.array(*out)).alias("p"))
            .select("p.type_a", "p.type_b", "p.r"))


def _crosscorr_sql() -> str:
    ccols = ",\n         ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c_{t}" for t in EVENT_TYPES)
    moments = ["CAST(count(*) AS BIGINT) AS n"]
    for t in EVENT_TYPES:
        moments.append(f"CAST(sum(c_{t}) AS BIGINT) AS s_{t}")
        moments.append(f"CAST(sum(c_{t} * c_{t}) AS BIGINT) AS ss_{t}")
    for a, b in _PAIRS:
        moments.append(f"CAST(sum(c_{a} * c_{b}) AS BIGINT) AS sp_{a}_{b}")
    sel = []
    for a, b in _PAIRS:
        sel.append(
            f"SELECT '{a}' AS type_a, '{b}' AS type_b,\n"
            f"  CASE WHEN (n * ss_{a} - s_{a} * s_{a}) > 0\n"
            f"        AND (n * ss_{b} - s_{b} * s_{b}) > 0\n"
            f"       THEN round(CAST(n * sp_{a}_{b} - s_{a} * s_{b}"
            f" AS DOUBLE)\n"
            f"            / sqrt(CAST(n * ss_{a} - s_{a} * s_{a} AS DOUBLE)\n"
            f"                   * CAST(n * ss_{b} - s_{b} * s_{b}"
            f" AS DOUBLE)), 6)\n"
            f"  END AS r FROM m")
    return (f"WITH day_rows AS (\n"
            f"  SELECT epoch_us(ts) // {_DAY_US} AS day,\n"
            f"         {ccols}\n"
            f"  FROM events GROUP BY 1\n"
            f"), m AS (\n"
            f"  SELECT {', '.join(moments)} FROM day_rows\n"
            f")\n" + "\nUNION ALL\n".join(sel))


QUERIES["crosscorr_event_types"] = (_crosscorr_event_types, _crosscorr_sql())


# ---------------------------------------------------------------------------
# Brown double-exponential smoothing (fixed-point, α=1/2) + 7-day forecast
# ---------------------------------------------------------------------------


def _holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double-exponential smoothing of each event type's daily
    volume (α=1/2, second stage lagged one step) with the standard
    level/trend readout (level = 2·s1−s2, trend = s1−s2) and a 7-day
    linear forecast.

    The recurrence (s1' = ⌊(x+s1)/2⌋, s2' = ⌊(s1+s2)/2⌋) is
    SEQUENTIAL — not window-expressible — so it runs as an explicit
    left fold over the per-series day-ordered array (CLAUDE.md
    float-reduction rule; every quotient a /2 floor on int64,
    bit-identical across engines). Day order is pinned by array_sort
    on (day, x) structs / list(... ORDER BY day).

    DuckDB 1.0 hazard (cost a debugging session): list_reduce
    evaluates struct_pack fields IN PLACE on the accumulator — a field
    reading an acc field that an EARLIER field already wrote sees the
    NEW value. Both the update rule (each stage reads only prior-stage
    state) and the struct field order (s2 before s1) are chosen so
    every read happens before its write; the Spark fold mirrors the
    same field order so the schemas match.

    Scale: series state is days × types (the raw stream reduces in the
    first keyed aggregate); the fold is interpreted but runs on ~30
    elements per series. For very long series switch to applyInPandas
    with the identical integer recurrence."""
    daily = _daily_counts(spark, sf_dir)
    series = (daily.groupBy("event_type")
              .agg(F.array_sort(F.collect_list(F.struct("day", "x")))
                    .alias("s")))
    elems = F.transform(
        F.col("s"), lambda t: F.struct(F.lit(0).cast("long").alias("s2"),
                                       t["x"].alias("s1"),
                                       F.lit(0).cast("long").alias("i")))
    init = F.struct(F.lit(0).cast("long").alias("s2"),
                    F.lit(0).cast("long").alias("s1"),
                    F.lit(0).cast("long").alias("i"))

    def step(acc, e):
        first = F.struct(e["s1"].alias("s2"), e["s1"].alias("s1"),
                         F.lit(1).cast("long").alias("i"))
        rest = F.struct(
            F.floor((acc["s1"] + acc["s2"]) / 2.0).cast("long").alias("s2"),
            F.floor((e["s1"] + acc["s1"]) / 2.0).cast("long").alias("s1"),
            (acc["i"] + 1).alias("i"))
        return F.when(acc["i"] == 0, first).otherwise(rest)

    acc = F.aggregate(elems, init, step)
    return series.select(
        "event_type", acc["i"].alias("n_days"),
        (2 * acc["s1"] - acc["s2"]).alias("level"),
        (acc["s1"] - acc["s2"]).alias("trend"),
        (2 * acc["s1"] - acc["s2"] + 7 * (acc["s1"] - acc["s2"]))
         .alias("forecast_7d"))


_HOLT_SQL = f"""
WITH {_DAILY_SQL},
series AS (
  SELECT event_type, list(x ORDER BY day) AS xs FROM daily GROUP BY 1
),
folded AS (
  -- LIST accumulator [s2, s1, i]: struct accumulators corrupt under
  -- grouped ragged lists in DuckDB 1.0 (cooldown_dedup incident,
  -- CLAUDE.md); list accumulators are immune
  SELECT event_type,
         list_reduce(
           list_prepend([0::BIGINT, 0::BIGINT, 0::BIGINT],
                        list_transform(xs, x ->
                            [0::BIGINT, x, 0::BIGINT])),
           (acc, e) -> CASE WHEN acc[3] = 0
             THEN [e[2], e[2], 1::BIGINT]
             ELSE [CAST(floor((acc[2] + acc[1]) / 2.0) AS BIGINT),
                   CAST(floor((e[2] + acc[2]) / 2.0) AS BIGINT),
                   acc[3] + 1]
           END) AS a
  FROM series
)
SELECT event_type, a[3] AS n_days,
       2 * a[2] - a[1] AS level,
       a[2] - a[1] AS trend,
       2 * a[2] - a[1] + 7 * (a[2] - a[1]) AS forecast_7d
FROM folded
"""

QUERIES["holt_linear_forecast"] = (_holt_linear_forecast, _HOLT_SQL)


# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes, exact rank pick)
# ---------------------------------------------------------------------------


def _theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope estimate of each event type's daily-volume
    trend: the MEDIAN of all pairwise slopes (xⱼ−xᵢ)/(dayⱼ−dayᵢ) — the
    robust alternative to OLS (breakdown point 29%). Each slope is one
    int64/int64 division (identical doubles in both engines); the
    median is rank-SELECTED from the (slope, i, j)-ordered sequence,
    never interpolated, so engine quantile semantics don't exist here.

    Scale: the pair join is per-series over the DAILY frame — the
    reduction to (days × types) happens first, so pairs are
    C(days,2)·types, independent of raw event volume. For multi-year
    spans at minute grain, sample day pairs (the estimator stays
    consistent) with the hash-sampling operator."""
    from pyspark.sql import Window

    daily = _daily_counts(spark, sf_dir)
    a = daily.select("event_type", F.col("day").alias("di"),
                     F.col("x").alias("xi"))
    b = daily.select("event_type", F.col("day").alias("dj"),
                     F.col("x").alias("xj"))
    pairs = (a.join(b, "event_type").where(F.col("di") < F.col("dj"))
             .select("event_type", "di", "dj",
                     ((F.col("xj") - F.col("xi")).cast("double")
                      / (F.col("dj") - F.col("di")).cast("double"))
                     .alias("slope")))
    w = Window.partitionBy("event_type").orderBy("slope", "di", "dj")
    ranked = pairs.select(
        "event_type", "slope",
        F.row_number().over(w).cast("long").alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type"))
         .cast("long").alias("n"))
    return (ranked
            .where(F.col("r") == F.floor((F.col("n") + 1) / 2)
                   .cast("long"))
            .select("event_type", F.col("n").alias("n_pairs"),
                    F.round("slope", 6).alias("ts_slope")))


_TS_SQL = f"""
WITH {_DAILY_SQL},
pairs AS (
  SELECT a.event_type, a.day AS di, b.day AS dj,
         CAST(b.x - a.x AS DOUBLE) / CAST(b.day - a.day AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), ranked AS (
  SELECT event_type, slope,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY slope, di, dj) AS BIGINT) AS r,
         CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
  FROM pairs
)
SELECT event_type, n AS n_pairs, round(slope, 6) AS ts_slope
FROM ranked
WHERE r = (n + 1) // 2
"""

QUERIES["theil_sen_trend"] = (_theil_sen_trend, _TS_SQL)


# ---------------------------------------------------------------------------
# Maximum drawdown of the cumulative daily revenue-delta curve
# ---------------------------------------------------------------------------


def _max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max drawdown per event type of the cumulative (value − mean)
    curve — the finance-style burstiness diagnostic: how far below its
    running peak the centered cumulative series falls. Computed with
    two stacked windows (running sum, then running max) and one final
    max of (peak − level); drawdown of a centered integer series is
    itself exact int64 (values quantize to cents).

    Determinism: the series is daily SUMS of value cents (exact);
    centering subtracts the integer floor-mean scaled through n
    (cross-multiplied: level·n − total·t stays integer — no division
    at all until the display row).

    Scale: reduction to days × types first; both windows partition by
    event_type over the tiny daily frame."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
         .alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("v_c"))
    daily = (ev.groupBy("event_type", "day")
             .agg(F.sum("v_c").alias("x")))
    stats = (daily.groupBy("event_type")
             .agg(F.sum("x").alias("total"), F.count(F.lit(1)).alias("n")))
    w = Window.partitionBy("event_type").orderBy("day") \
        .rowsBetween(Window.unboundedPreceding, 0)
    cum = (daily.join(F.broadcast(stats), "event_type")
           .withColumn("t", F.count(F.lit(1)).over(w))
           .withColumn("lvl_n", F.sum("x").over(w) * F.col("n")
                       - F.col("total") * F.col("t")))
    peaked = cum.withColumn("peak_n", F.max("lvl_n").over(w))
    return (peaked.groupBy("event_type")
            .agg(F.max(F.col("peak_n") - F.col("lvl_n")).alias("dd_n"),
                 F.max("n").alias("n_days"),
                 F.max("total").alias("total_c"))
            .select("event_type", "n_days",
                    F.round(F.col("dd_n").cast("double")
                            / (F.col("n_days") * 100).cast("double"), 4)
                     .alias("max_drawdown")))


_DD_SQL = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, CAST(sum(x) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n
  FROM daily GROUP BY 1
), cum AS (
  SELECT d.event_type, d.day, s.n, s.total,
         CAST(count(*) OVER w AS BIGINT) AS t,
         CAST(sum(d.x) OVER w AS BIGINT) * s.n
             - s.total * CAST(count(*) OVER w AS BIGINT) AS lvl_n
  FROM daily d JOIN stats s ON d.event_type = s.event_type
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), peaked AS (
  SELECT event_type, n, lvl_n,
         CAST(max(lvl_n) OVER (PARTITION BY event_type ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS peak_n
  FROM cum
)
SELECT event_type, max(n) AS n_days,
       round(CAST(max(peak_n - lvl_n) AS BIGINT)
             / CAST(max(n) * 100 AS DOUBLE), 4) AS max_drawdown
FROM peaked GROUP BY 1
"""

QUERIES["max_drawdown_curve"] = (_max_drawdown, _DD_SQL)


# ---------------------------------------------------------------------------
# Rolling 7-day OLS slope (windowed integer moments)
# ---------------------------------------------------------------------------
_ROLL_W = 7


def _rolling_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day OLS trend of each event type's daily volume:
    slope = (nΣdx − ΣdΣx)/(nΣd² − (Σd)²) over the trailing window.
    Every windowed Σ is an INT64 sum (day indices × integer counts) —
    bounded-frame sums of integers are association-free, so the
    CLAUDE.md float-frame hazard doesn't apply; the single division
    happens per row on exact moments.

    Scale: reduction to days × types first; one day-ordered window per
    series; emits the last 10 days per type (the live dashboard tail)
    with id-ordered TakeOrdered."""
    from pyspark.sql import Window

    daily = _daily_counts(spark, sf_dir)
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-(_ROLL_W - 1), 0))
    m = daily.select(
        "event_type", "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("day").over(w).alias("sd"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("day") * F.col("x")).over(w).alias("sdx"),
        F.sum(F.col("day") * F.col("day")).over(w).alias("sdd"))
    den = (m.n * m.sdd - m.sd * m.sd)
    slope = F.when(den != 0,
                   F.round((m.n * m.sdx - m.sd * m.sx).cast("double")
                           / den.cast("double"), 6))
    ranked = m.select("event_type", "day", F.col("n").alias("win_n"),
                      slope.alias("slope7"))
    wr = Window.partitionBy("event_type").orderBy(F.desc("day"))
    return (ranked.withColumn("rk", F.row_number().over(wr))
            .where(F.col("rk") <= 10)
            .drop("rk"))


_ROLL_SQL = f"""
WITH {_DAILY_SQL},
m AS (
  SELECT event_type, day,
         CAST(count(*) OVER w AS BIGINT) AS n,
         CAST(sum(day) OVER w AS BIGINT) AS sd,
         CAST(sum(x) OVER w AS BIGINT) AS sx,
         CAST(sum(day * x) OVER w AS BIGINT) AS sdx,
         CAST(sum(day * day) OVER w AS BIGINT) AS sdd
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN {_ROLL_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n AS win_n,
       CASE WHEN n * sdd - sd * sd != 0
            THEN round(CAST(n * sdx - sd * sx AS DOUBLE)
                       / CAST(n * sdd - sd * sd AS DOUBLE), 6)
       END AS slope7
FROM m
QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY day DESC) <= 10
"""

QUERIES["rolling_ols_slope"] = (_rolling_ols_slope, _ROLL_SQL)


# ---------------------------------------------------------------------------
# XmR control chart (individuals + moving range, exact integer limits)
# ---------------------------------------------------------------------------


def _xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart XmR (individuals) control chart per event type: a day
    is out-of-control when |x − x̄| > 2.66·mR̄ (the standard individuals
    limit). Both sides are rational in integer counts — x̄ = S/n,
    mR̄ = MR/(n−1) — so the test cross-multiplies to pure int64:
    |100·x·n·(n−1) − 100·S·(n−1)| > 266·MR·n, no float boundary
    anywhere. Output: per type, the limit band (display doubles) and
    the out-of-control day count — the SPC monitor a pipeline-health
    dashboard runs on ingest volumes.

    Scale: daily reduction first; one lag window for moving ranges;
    int64 headroom |100·x·n²| < 2^63 through ~1e6/day at 30 days."""
    from pyspark.sql import Window

    daily = _daily_counts(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    mr = daily.select(
        "event_type", "day", "x",
        F.abs(F.col("x") - F.lag("x", 1).over(w)).alias("mr"))
    stats = (mr.groupBy("event_type")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
                  F.sum("mr").alias("mrs")))
    j = mr.join(F.broadcast(stats), "event_type")
    lhs = F.abs(100 * F.col("x") * F.col("n") * (F.col("n") - 1)
                - 100 * F.col("s") * (F.col("n") - 1))
    rhs = 266 * F.col("mrs") * F.col("n")
    ooc = lhs > rhs
    return (j.groupBy("event_type")
            .agg(F.max("n").alias("n_days"),
                 F.round(F.max(F.col("s").cast("double") / F.col("n")), 2)
                  .alias("center"),
                 F.round(F.max(F.lit(2.66) * F.col("mrs").cast("double")
                               / (F.col("n") - 1)), 2).alias("limit_halfwidth"),
                 F.sum(ooc.cast("int")).cast("long").alias("out_of_control")))


_XMR_SQL = f"""
WITH {_DAILY_SQL},
mr AS (
  SELECT event_type, day, x,
         abs(x - lag(x) OVER (PARTITION BY event_type ORDER BY day)) AS mr
  FROM daily
), stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS s, CAST(sum(mr) AS BIGINT) AS mrs
  FROM mr GROUP BY 1
)
SELECT m.event_type, max(st.n) AS n_days,
       round(max(CAST(st.s AS DOUBLE) / st.n), 2) AS center,
       round(max(2.66 * CAST(st.mrs AS DOUBLE) / (st.n - 1)), 2)
           AS limit_halfwidth,
       CAST(sum(CASE WHEN abs(100 * m.x * st.n * (st.n - 1)
                              - 100 * st.s * (st.n - 1))
                          > 266 * st.mrs * st.n
                     THEN 1 ELSE 0 END) AS BIGINT) AS out_of_control
FROM mr m JOIN stats st ON m.event_type = st.event_type
GROUP BY 1
"""

QUERIES["xmr_control_chart"] = (_xmr_control_chart, _XMR_SQL)


# ---------------------------------------------------------------------------
# Day-of-week seasonality strength (eta² of daily volume by weekday)
# ---------------------------------------------------------------------------


def _dow_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How weekly is each event type's traffic: η² of daily volume
    explained by day-of-week — the seasonality-strength scalar that
    decides whether a forecast needs a weekly component. Weekday from
    integer epoch arithmetic ((day+4) % 7, CLAUDE.md); group moments
    are exact int64; the Σ S_g²/n_g fraction sum folds over the
    dow-SORTED 7-element array (pinned association, the
    anova_eta_squared recipe).

    Scale: daily reduction → ≤7 moment rows per type; everything
    after is per-type constant work."""
    daily = _daily_counts(spark, sf_dir)
    g = (daily.select("event_type", "x",
                      ((F.col("day") + 4) % 7).alias("dow"))
         .groupBy("event_type", "dow")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
              F.sum(F.col("x") * F.col("x")).alias("q")))
    arr = (g.groupBy("event_type")
           .agg(F.array_sort(F.collect_list(
               F.struct("dow", "n", "s", "q"))).alias("xs")))
    fold = F.aggregate(
        F.col("xs"),
        F.struct(F.lit(0).cast("long").alias("nn"),
                 F.lit(0).cast("long").alias("ss"),
                 F.lit(0).cast("long").alias("qq"),
                 F.lit(0.0).alias("btw")),
        lambda acc, e: F.struct(
            (acc["nn"] + e["n"]).alias("nn"),
            (acc["ss"] + e["s"]).alias("ss"),
            (acc["qq"] + e["q"]).alias("qq"),
            (acc["btw"] + e["s"].cast("double") * e["s"].cast("double")
             / e["n"].cast("double")).alias("btw")))
    m = arr.select("event_type", fold.alias("a"))
    grand = (F.col("a.ss").cast("double") * F.col("a.ss").cast("double")
             / F.col("a.nn").cast("double"))
    ss_b = F.col("a.btw") - grand
    ss_t = F.col("a.qq").cast("double") - grand
    return m.select(
        "event_type", F.col("a.nn").alias("n_days"),
        F.when(ss_t > 0, F.round(ss_b / ss_t, 6)).alias("dow_eta_sq"))


_DOW_SQL = f"""
WITH {_DAILY_SQL},
g AS (
  SELECT event_type, (day + 4) % 7 AS dow,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         CAST(sum(x * x) AS BIGINT) AS q
  FROM daily GROUP BY 1, 2
), arr AS (
  SELECT event_type,
         list(struct_pack(dow := dow, n := n, s := s, q := q)
              ORDER BY dow) AS xs
  FROM g GROUP BY 1
), folded AS (
  SELECT event_type, list_reduce(
    list_prepend(struct_pack(nn := 0::BIGINT, ss := 0::BIGINT,
                             qq := 0::BIGINT, btw := 0.0),
                 list_transform(xs, e -> struct_pack(
                     nn := e.n, ss := e.s, qq := e.q,
                     btw := CAST(e.s AS DOUBLE)))),
    (acc, e) -> struct_pack(
        nn := acc.nn + e.nn, ss := acc.ss + e.ss, qq := acc.qq + e.qq,
        btw := acc.btw + CAST(e.ss AS DOUBLE) * CAST(e.ss AS DOUBLE)
               / CAST(e.nn AS DOUBLE))) AS a
  FROM arr
)
SELECT event_type, a.nn AS n_days,
       CASE WHEN CAST(a.qq AS DOUBLE)
                 - CAST(a.ss AS DOUBLE) * a.ss / a.nn > 0
            THEN round((a.btw - CAST(a.ss AS DOUBLE) * a.ss / a.nn)
                       / (CAST(a.qq AS DOUBLE)
                          - CAST(a.ss AS DOUBLE) * a.ss / a.nn), 6)
       END AS dow_eta_sq
FROM folded
"""

QUERIES["dow_seasonality_strength"] = (_dow_seasonality_strength, _DOW_SQL)


# --------------------------------------------------------------------------
# forecast_backtest_mase: seasonal-naive backtest, MASE + sMAPE per series
# --------------------------------------------------------------------------

_TEST_DAYS = 7


def _forecast_backtest_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest eval for the forecasting family: hold out the last
    7 days per event-type series, forecast each test day with
    seasonal-naive (the value 7 days earlier) and score it with MASE
    (mean absolute error scaled by the in-sample one-step-naive MAE —
    Hyndman's scale-free standard; < 1e6 means "beats naive") and
    integer sMAPE. Output per series: (event_type, n_train, n_test,
    sae_model, sae_naive, mase_e6, smape_e6).

    Determinism: the day grid densifies to exact zeros (missing days
    are real observations of 0 events, and lags over a gappy series
    would silently compare non-adjacent days); every error is an
    integer |count diff|; MASE is one cross-multiplied integer
    division, sMAPE a per-day integer e6 term averaged by integer
    division. Headroom: 1e6*sae_model*n_naive needs daily counts
    below ~4e8 at this horizon — annotate before pointing at a
    billion-events/day stream.

    Scale: the corpus collapses to the (type, day) daily matrix in one
    map-side-combinable aggregate (persisted — it feeds the bounds,
    the type census, and the dense grid; released via
    tables.release()); lags and the backtest run on types x days
    rows.
    """
    daily = persist(_daily_counts(spark, sf_dir))
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"),
                    "maxd")
    dense = (types.crossJoin(F.broadcast(days))
             .join(daily, ["event_type", "day"], "left")
             .select("event_type", "day", "maxd",
                     F.coalesce("x", F.lit(0)).alias("x")))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = (dense
              .withColumn("l1", F.lag("x", 1).over(w))
              .withColumn("l7", F.lag("x", _TEST_DAYS).over(w)))
    is_test = F.col("day") > F.col("maxd") - _TEST_DAYS
    smape_term = F.expr(
        "case when x + l7 = 0 then cast(0 as bigint)"
        " else 1000000 * 2 * abs(x - l7) div (x + l7) end")
    agg = (lagged.groupBy("event_type").agg(
        F.sum(F.when(~is_test & F.col("l1").isNotNull(), 1)
               .otherwise(0)).alias("n_train"),
        F.sum(F.when(is_test, 1).otherwise(0)).alias("n_test"),
        F.sum(F.when(is_test, F.abs(F.col("x") - F.col("l7")))
               .otherwise(0)).alias("sae_model"),
        F.sum(F.when(~is_test & F.col("l1").isNotNull(),
                     F.abs(F.col("x") - F.col("l1")))
               .otherwise(0)).alias("sae_naive"),
        F.sum(F.when(is_test, smape_term).otherwise(0))
         .alias("smape_sum")))
    return agg.select(
        "event_type", "n_train", "n_test", "sae_model", "sae_naive",
        F.expr("case when sae_naive = 0 or n_test = 0"
               " then cast(0 as bigint)"
               " else (1000000 * sae_model * n_train)"
               " div (sae_naive * n_test) end").alias("mase_e6"),
        F.expr("case when n_test = 0 then cast(0 as bigint)"
               " else smape_sum div n_test end").alias("smape_e6"))


_MASE_SQL = f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day, b.maxd
    FROM types t
    CROSS JOIN b
    CROSS JOIN LATERAL (SELECT unnest(generate_series(b.mind, b.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, g.day, g.maxd, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
lagged AS (
    SELECT event_type, day, maxd, x,
           lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
           lag(x, {_TEST_DAYS}) OVER (PARTITION BY event_type
                                      ORDER BY day) AS l7
    FROM dense
),
agg AS (
    SELECT event_type,
           CAST(sum(CASE WHEN day <= maxd - {_TEST_DAYS}
                          AND l1 IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_train,
           CAST(sum(CASE WHEN day > maxd - {_TEST_DAYS} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN day > maxd - {_TEST_DAYS}
                         THEN abs(x - l7) ELSE 0 END) AS BIGINT)
               AS sae_model,
           CAST(sum(CASE WHEN day <= maxd - {_TEST_DAYS}
                          AND l1 IS NOT NULL
                         THEN abs(x - l1) ELSE 0 END) AS BIGINT)
               AS sae_naive,
           CAST(sum(CASE WHEN day > maxd - {_TEST_DAYS}
                         THEN CASE WHEN x + l7 = 0 THEN 0
                              ELSE 1000000 * 2 * abs(x - l7)
                                   // (x + l7) END
                         ELSE 0 END) AS BIGINT) AS smape_sum
    FROM lagged GROUP BY event_type
)
SELECT event_type, n_train, n_test, sae_model, sae_naive,
       CASE WHEN sae_naive = 0 OR n_test = 0 THEN CAST(0 AS BIGINT)
            ELSE (1000000 * sae_model * n_train)
                 // (sae_naive * n_test) END AS mase_e6,
       CASE WHEN n_test = 0 THEN CAST(0 AS BIGINT)
            ELSE smape_sum // n_test END AS smape_e6
FROM agg
"""


QUERIES["forecast_backtest_mase"] = (_forecast_backtest_mase, _MASE_SQL)


# --------------------------------------------------------------------------
# timeseries_motif_discovery: Matrix-Profile motif + discord per series
# --------------------------------------------------------------------------

_MOTIF_W = 5


def _timeseries_motif_discovery(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Matrix-Profile semantics at daily granularity: for every
    5-day window of each event-type series, find its best-correlated
    NON-OVERLAPPING partner window; the best pair corpus-wide is the
    MOTIF (a repeated behavioral pattern), the window whose best
    partner is worst is the DISCORD (the week that looks like no
    other — the anomaly a seasonal z-score misses because it is shape,
    not level). Correlation, not raw distance, so level shifts don't
    mask shape matches. Output per series: (event_type, n_windows,
    motif_s1, motif_s2, motif_corr_e6, discord_s, discord_corr_e6)
    with window starts relative to the first day.

    Determinism: window moments and dot products are exact int64 over
    the zero-densified day grid; corr_e6 = floor(1e6*num/sqrt(d1*d2))
    where num/d1/d2 are exact ints — one sqrt (IEEE correctly-rounded)
    and one floor, identical both engines; constant windows (den 0)
    are excluded; all argmin/argmax go through integer struct ordering
    with window-start tie-breaks (CLAUDE.md rank-ties rule).

    Scale: the corpus collapses to the (type, day) matrix in one
    map-side-combinable aggregate (persisted — grid, moments and dot
    branches all read it; released via tables.release()); windows
    are (days-4) rows per series and the pair join is O(windows^2 x
    W) on that tiny frame — days, not corpus rows, bound it.
    """
    daily = _daily_counts(spark, sf_dir)
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"),
                    "mind", "maxd")
    dense = persist(types.crossJoin(F.broadcast(days))
                    .join(daily, ["event_type", "day"], "left")
                    .select("event_type", "day", "mind", "maxd",
                            F.coalesce("x", F.lit(0)).alias("x")))
    starts = (dense.where(F.col("day") <= F.col("maxd") - (_MOTIF_W - 1))
              .select("event_type", F.col("day").alias("s"), "mind")
              .distinct())
    win = dense.select("event_type", "day", "x")
    wm = (starts.join(win, "event_type")
          .where(F.col("day").between(F.col("s"),
                                      F.col("s") + (_MOTIF_W - 1)))
          .groupBy("event_type", "s", "mind")
          .agg(F.sum("x").alias("sx"),
               F.sum(F.col("x") * F.col("x")).alias("sxx")))
    p1 = wm.select("event_type", F.col("s").alias("s1"), "mind",
                   F.col("sx").alias("sx1"), F.col("sxx").alias("sxx1"))
    p2 = wm.select("event_type", F.col("s").alias("s2"),
                   F.col("sx").alias("sx2"), F.col("sxx").alias("sxx2"))
    pp = (p1.join(p2, "event_type")
          .where(F.col("s2") >= F.col("s1") + _MOTIF_W))
    offs = spark.range(_MOTIF_W).select(F.col("id").alias("o"))
    da = win.select(F.col("event_type").alias("et_a"),
                    F.col("day").alias("d1"), F.col("x").alias("xa"))
    db = win.select(F.col("event_type").alias("et_b"),
                    F.col("day").alias("d2"), F.col("x").alias("xb"))
    dots = (pp.select("event_type", "s1", "s2")
            .crossJoin(F.broadcast(offs))
            .join(da, (F.col("d1") == F.col("s1") + F.col("o"))
                  & (F.col("et_a") == F.col("event_type")))
            .join(db, (F.col("d2") == F.col("s2") + F.col("o"))
                  & (F.col("et_b") == F.col("event_type")))
            .groupBy("event_type", "s1", "s2")
            .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot")))
    w = _MOTIF_W
    corr = (f"cast(floor(1000000.0 * cast({w} * dot - sx1 * sx2"
            f" as double) / sqrt(cast(({w} * sxx1 - sx1 * sx1)"
            f" as double) * cast(({w} * sxx2 - sx2 * sx2) as double)))"
            f" as bigint)")
    scored = (pp.join(dots, ["event_type", "s1", "s2"])
              .where((F.expr(f"{w} * sxx1 - sx1 * sx1") > 0)
                     & (F.expr(f"{w} * sxx2 - sx2 * sx2") > 0))
              .select("event_type", "mind", "s1", "s2",
                      F.expr(corr).alias("c")))
    motif = (scored.groupBy("event_type")
             .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                 (F.col("s1") - F.col("mind"))
                                 .alias("a"),
                                 (F.col("s2") - F.col("mind"))
                                 .alias("b"))).alias("m")))
    per_win = (scored.select("event_type",
                             (F.col("s1") - F.col("mind")).alias("s"),
                             "c")
               .unionByName(scored.select(
                   "event_type",
                   (F.col("s2") - F.col("mind")).alias("s"), "c"))
               .groupBy("event_type", "s")
               .agg(F.max("c").alias("best")))
    discord = (per_win.groupBy("event_type")
               .agg(F.min(F.struct("best", "s")).alias("d")))
    nw = (starts.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n_windows")))
    return (nw.join(motif, "event_type").join(discord, "event_type")
            .select("event_type", "n_windows",
                    F.col("m.a").alias("motif_s1"),
                    F.col("m.b").alias("motif_s2"),
                    (-F.col("m.nc")).alias("motif_corr_e6"),
                    F.col("d.s").alias("discord_s"),
                    F.col("d.best").alias("discord_corr_e6")))


def _motif_sql() -> str:
    w = _MOTIF_W
    corr = (f"CAST(floor(1000000.0 * CAST({w} * dot - sx1 * sx2"
            f" AS DOUBLE) / sqrt(CAST(({w} * sxx1 - sx1 * sx1)"
            f" AS DOUBLE) * CAST(({w} * sxx2 - sx2 * sx2) AS DOUBLE)))"
            f" AS BIGINT)")
    return f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day, b.mind, b.maxd
    FROM types t CROSS JOIN b
    CROSS JOIN LATERAL (SELECT unnest(generate_series(b.mind, b.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, g.day, g.mind, g.maxd, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
starts AS (
    SELECT DISTINCT event_type, day AS s, mind FROM dense
    WHERE day <= maxd - {w - 1}
),
wm AS (
    SELECT st.event_type, st.s, st.mind,
           CAST(sum(d.x) AS BIGINT) AS sx,
           CAST(sum(d.x * d.x) AS BIGINT) AS sxx
    FROM starts st JOIN dense d
      ON d.event_type = st.event_type
     AND d.day BETWEEN st.s AND st.s + {w - 1}
    GROUP BY 1, 2, 3
),
pp AS (
    SELECT a.event_type, a.s AS s1, b.s AS s2, a.mind,
           a.sx AS sx1, a.sxx AS sxx1, b.sx AS sx2, b.sxx AS sxx2
    FROM wm a JOIN wm b
      ON a.event_type = b.event_type AND b.s >= a.s + {w}
),
dots AS (
    SELECT p.event_type, p.s1, p.s2,
           CAST(sum(da.x * db.x) AS BIGINT) AS dot
    FROM pp p
    CROSS JOIN (SELECT unnest(generate_series(0, {w - 1})) AS o) oo
    JOIN dense da ON da.event_type = p.event_type
                 AND da.day = p.s1 + oo.o
    JOIN dense db ON db.event_type = p.event_type
                 AND db.day = p.s2 + oo.o
    GROUP BY 1, 2, 3
),
scored AS (
    SELECT p.event_type, p.mind, p.s1, p.s2, {corr} AS c
    FROM pp p JOIN dots USING (event_type, s1, s2)
    WHERE {w} * sxx1 - sx1 * sx1 > 0 AND {w} * sxx2 - sx2 * sx2 > 0
),
motif AS (
    SELECT event_type,
           min(struct_pack(nc := -c, a := s1 - mind, b := s2 - mind))
               AS m
    FROM scored GROUP BY event_type
),
per_win AS (
    SELECT event_type, s, CAST(max(c) AS BIGINT) AS best
    FROM (SELECT event_type, s1 - mind AS s, c FROM scored
          UNION ALL
          SELECT event_type, s2 - mind AS s, c FROM scored)
    GROUP BY 1, 2
),
discord AS (
    SELECT event_type, min(struct_pack(best := best, s := s)) AS d
    FROM per_win GROUP BY event_type
),
nw AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_windows
    FROM starts GROUP BY event_type
)
SELECT nw.event_type, nw.n_windows,
       m.m.a AS motif_s1, m.m.b AS motif_s2,
       -(m.m.nc) AS motif_corr_e6,
       d.d.s AS discord_s, d.d.best AS discord_corr_e6
FROM nw JOIN motif m USING (event_type)
JOIN discord d USING (event_type)
"""


QUERIES["timeseries_motif_discovery"] = (_timeseries_motif_discovery,
                                         _motif_sql())


# --------------------------------------------------------------------------
# binseg_changepoint: exact single-split binary segmentation per series
# --------------------------------------------------------------------------

def _binseg_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares changepoint per event-type series — binary
    segmentation's first split, chosen EXACTLY: splitting after day s
    reduces total SSE by delta(s) = S1^2/n1 + S2^2/n2 - S^2/N, and the
    argmax over s is decided on the integer key floor(2^22 *
    (S1^2*n2 + S2^2*n1) / (n1*n2)) — since two distinct candidate
    fractions differ by at least 1/(n1*n2*n1'*n2') and the 2^22 scale
    exceeds twice the worst denominator product at this horizon, the
    floored keys preserve the exact ordering (ties break to the
    earliest split; headroom: S^2*2^22 needs daily sums below ~1e8).
    Output per series: (event_type, n_days, split_day, mean1_e3,
    mean2_e3, delta_sse_e6).

    Scale: the corpus collapses to the daily matrix (persisted, shared
    with the other timeseries queries' shape); prefix sums and the
    N-candidate scan run on days-sized frames under a per-series
    window.
    """
    daily = _daily_counts(spark, sf_dir)
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"),
                    "mind", "maxd")
    dense = persist(types.crossJoin(F.broadcast(days))
                    .join(daily, ["event_type", "day"], "left")
                    .select("event_type",
                            (F.col("day") - F.col("mind")).alias("d"),
                            (F.col("maxd") - F.col("mind") + 1).alias("nn"),
                            F.coalesce("x", F.lit(0)).alias("x")))
    w = (Window.partitionBy("event_type").orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    pre = dense.select("event_type", "d", "nn",
                       F.sum("x").over(w).alias("s1"))
    tot = (dense.groupBy("event_type")
           .agg(F.sum("x").alias("st"),
                F.sum(F.col("x") * F.col("x")).alias("sst"),
                F.max("nn").alias("n")))
    cand = (pre.join(F.broadcast(tot), "event_type")
            .where(F.col("d") < F.col("nn") - 1)
            .select("event_type", "d", "n", "st", "sst", "s1",
                    (F.col("d") + 1).alias("n1"),
                    (F.col("n") - F.col("d") - 1).alias("n2"),
                    (F.col("st") - F.col("s1")).alias("s2")))
    key = ("(s1 * s1 * n2 + s2 * s2 * n1) * 4194304 div (n1 * n2)")
    best = (cand.select("event_type", "n", "st", "sst", "s1", "s2",
                        "n1", "n2", "d", F.expr(key).alias("k"))
            .groupBy("event_type")
            .agg(F.max(F.struct(F.col("k"),
                                (-F.col("d")).alias("nd"))).alias("b"),
                 F.max("n").alias("n_days"),
                 F.max("st").alias("st"), F.max("sst").alias("sst")))
    picked = (best.select("event_type", "n_days", "st", "sst",
                          (-F.col("b.nd")).alias("split_day"))
              .join(cand.select("event_type", F.col("d").alias("split_day"),
                                "s1", "s2", "n1", "n2"),
                    ["event_type", "split_day"]))
    delta = ("(cast(s1 as double) * s1 / n1"
             " + cast(s2 as double) * s2 / n2"
             " - cast(st as double) * st / (n1 + n2))")
    return picked.select(
        "event_type", "n_days", "split_day",
        F.expr("cast(floor(1000.0 * cast(s1 as double) / n1) as bigint)")
         .alias("mean1_e3"),
        F.expr("cast(floor(1000.0 * cast(s2 as double) / n2) as bigint)")
         .alias("mean2_e3"),
        F.expr(f"cast(floor(1000000.0 * ({delta})) as bigint)")
         .alias("delta_sse_e6"))


def _binseg_sql() -> str:
    key = "(s1 * s1 * n2 + s2 * s2 * n1) * 4194304 // (n1 * n2)"
    delta = ("(cast(s1 as double) * s1 / n1"
             " + cast(s2 as double) * s2 / n2"
             " - cast(st as double) * st / (n1 + n2))")
    return f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day, bb.mind, bb.maxd
    FROM types t CROSS JOIN b bb
    CROSS JOIN LATERAL (SELECT unnest(generate_series(bb.mind, bb.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, g.day - g.mind AS d,
           g.maxd - g.mind + 1 AS nn, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
pre AS (
    SELECT event_type, d, nn,
           CAST(sum(x) OVER (PARTITION BY event_type ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS s1
    FROM dense
),
tot AS (
    SELECT event_type, CAST(sum(x) AS BIGINT) AS st,
           CAST(sum(x * x) AS BIGINT) AS sst,
           CAST(max(nn) AS BIGINT) AS n
    FROM dense GROUP BY event_type
),
cand AS (
    SELECT p.event_type, p.d, t.n, t.st, t.sst, p.s1,
           p.d + 1 AS n1, t.n - p.d - 1 AS n2, t.st - p.s1 AS s2
    FROM pre p JOIN tot t ON p.event_type = t.event_type
    WHERE p.d < p.nn - 1
),
best AS (
    SELECT event_type,
           max(struct_pack(k := {key}, nd := -d)) AS b,
           max(n) AS n_days, max(st) AS st, max(sst) AS sst
    FROM cand GROUP BY event_type
)
SELECT b.event_type, b.n_days, -(b.b.nd) AS split_day,
       CAST(floor(1000.0 * cast(c.s1 as double) / c.n1) AS BIGINT)
           AS mean1_e3,
       CAST(floor(1000.0 * cast(c.s2 as double) / c.n2) AS BIGINT)
           AS mean2_e3,
       CAST(floor(1000000.0 * (cast(c.s1 as double) * c.s1 / c.n1
            + cast(c.s2 as double) * c.s2 / c.n2
            - cast(b.st as double) * b.st / (c.n1 + c.n2))) AS BIGINT)
           AS delta_sse_e6
FROM best b JOIN cand c
  ON c.event_type = b.event_type AND c.d = -(b.b.nd)
"""


QUERIES["binseg_changepoint"] = (_binseg_changepoint, _binseg_sql())


# --------------------------------------------------------------------------
# dtw_series_distance: exact integer dynamic time warping, all pairs
# --------------------------------------------------------------------------

_DTW_INF = 1_000_000_000_000_000


def _dtw_series_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping between every pair of event-type daily
    series — the sequence-similarity measure that tolerates phase
    shift (a weekend dip one day late still matches), where Pearson
    (``crosscorr_event_types``) punishes it. Series are mean-
    normalized to permille integers so level differences don't drown
    shape, and the full DP recurrence runs as a nested fold: the outer
    fold carries the previous DP row, the inner fold builds the next
    row left to right — every cell an exact int64 (|x-y| costs,
    integer min), so the warping distance is bit-identical across
    engines with no float anywhere. Output per pair: (type_a, type_b,
    n_days, dtw_cost, dtw_per_step_e3).

    Scale: the corpus collapses to the daily matrix; each DP is
    O(days^2) inside ONE row's expression — series pairs, not corpus
    rows, bound the work. For month-scale horizons that is 900 integer
    ops per pair; a Sakoe-Chiba band would cap longer horizons.
    """
    daily = _daily_counts(spark, sf_dir)
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"))
    dense = persist(types.crossJoin(F.broadcast(days))
                    .join(daily, ["event_type", "day"], "left")
                    .select("event_type", "day",
                            F.coalesce("x", F.lit(0)).alias("x")))
    ser = (dense.groupBy("event_type")
           .agg(F.transform(
               F.array_sort(F.collect_list(F.struct("day", "x"))),
               lambda s: s["x"]).alias("raw")))
    # permille mean-normalization: x * 1000 * n div sum (exact ints)
    norm = ser.select(
        "event_type",
        F.expr("transform(raw, v -> (v * 1000 * size(raw))"
               " div greatest(aggregate(raw, cast(0 as bigint),"
               " (a, q) -> a + q), 1))").alias("s"))
    a = norm.select(F.col("event_type").alias("type_a"),
                    F.col("s").alias("xs"))
    bb = norm.select(F.col("event_type").alias("type_b"),
                     F.col("s").alias("ys"))
    pairs = a.crossJoin(F.broadcast(bb)).where(
        F.col("type_a") < F.col("type_b"))
    inf = _DTW_INF
    dtw = (
        "element_at(aggregate(sequence(1, size(xs)),"
        # init row: D[0][0]=0, D[0][j]=INF
        f" concat(array(cast(0 as bigint)), transform(ys,"
        f" v -> cast({inf} as bigint))),"
        " (p, i) -> aggregate(sequence(1, size(ys)),"
        f" array(cast({inf} as bigint)),"
        " (c, j) -> array_append(c,"
        " abs(element_at(xs, i) - element_at(ys, j))"
        " + least(element_at(p, j + 1), element_at(p, j),"
        " element_at(c, -1))))), -1)")
    return pairs.select(
        "type_a", "type_b",
        F.expr("size(xs)").cast("long").alias("n_days"),
        F.expr(dtw).alias("dtw_cost")) \
        .withColumn("dtw_per_step_e3",
                    F.expr("1000 * dtw_cost div n_days"))


def _dtw_sql() -> str:
    inf = _DTW_INF
    dtw = (
        "(list_reduce(list_prepend("
        f" list_prepend(CAST(0 AS BIGINT), list_transform(ys,"
        f" v -> CAST({inf} AS BIGINT))),"
        " list_transform(range(1, len(xs) + 1), i ->"
        f" list_prepend(CAST(i AS BIGINT), list_transform(ys,"
        f" v -> CAST({inf} AS BIGINT))))),"
        " (p, ri) -> list_reduce(list_prepend("
        f" [CAST({inf} AS BIGINT)],"
        " list_transform(range(1, len(ys) + 1), j ->"
        " [CAST(j AS BIGINT)])),"
        " (c, jj) -> list_append(c,"
        " abs(xs[ri[1]] - ys[jj[1]])"
        " + least(p[jj[1] + 1], p[jj[1]], c[-1]))))[-1])")
    return f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day
    FROM types t CROSS JOIN b bb
    CROSS JOIN LATERAL (SELECT unnest(generate_series(bb.mind, bb.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, g.day, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
ser AS (
    SELECT event_type,
           list_transform(list_sort(list(struct_pack(day := day,
                                                     x := x))),
                          s -> s.x) AS raw
    FROM dense GROUP BY event_type
),
norm AS (
    SELECT event_type,
           list_transform(raw, v -> (v * 1000 * len(raw))
               // greatest(list_reduce(list_prepend(CAST(0 AS BIGINT),
                           raw), (a, q) -> a + q), 1)) AS s
    FROM ser
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.s AS xs, b.s AS ys
    FROM norm a JOIN norm b ON a.event_type < b.event_type
)
SELECT type_a, type_b, CAST(len(xs) AS BIGINT) AS n_days,
       {dtw} AS dtw_cost,
       1000 * {dtw} // CAST(len(xs) AS BIGINT) AS dtw_per_step_e3
FROM pairs
"""


QUERIES["dtw_series_distance"] = (_dtw_series_distance, _dtw_sql())


# --------------------------------------------------------------------------
# slo_burn_rate_alerts: multi-window error-budget burn (SRE policy)
# --------------------------------------------------------------------------

_SLO_DEN = 4  # error-budget SLO: errors <= 1/4 of events


def _slo_burn_rate_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Google-SRE multi-window burn-rate alerting over the event
    stream: burn = (error share)/(SLO share), evaluated on a fast
    window (the day) AND a slow window (trailing week), alerting only
    when BOTH exceed budget — the standard trick that suppresses
    single-day blips without missing sustained burns. Output per day:
    (day_rel, errs, total, burn1_e6, burn7_e6, alert).

    Determinism: daily counts are exact ints on the zero-densified
    grid; burn = 1e6 * {D} * errs div total is one positive integer
    division per window (SLO spelled as the integer 1/{D}); the alert
    is an integer conjunction.

    Scale: one map-side-combinable aggregate to the daily matrix,
    integer window sums for the trailing week, scalar algebra after.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
         .alias("day"), "event_type")
    daily = (ev.groupBy("day")
             .agg(F.count(F.lit(1)).alias("total"),
                  F.sum((F.col("event_type") == "error").cast("long"))
                  .alias("errs")))
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"),
                    "mind")
    dense = (days.join(daily, "day", "left")
             .select((F.col("day") - F.col("mind")).alias("day_rel"),
                     F.coalesce("total", F.lit(0)).alias("total"),
                     F.coalesce("errs", F.lit(0)).alias("errs")))
    w7 = (Window.orderBy("day_rel").rowsBetween(-6, Window.currentRow))
    trail = dense.select(
        "day_rel", "errs", "total",
        F.sum("errs").over(w7).alias("errs7"),
        F.sum("total").over(w7).alias("total7"))
    burn = ("case when {t} = 0 then cast(0 as bigint)"
            f" else 1000000 * {_SLO_DEN} * {{e}} div {{t}} end")
    return trail.select(
        "day_rel", "errs", "total",
        F.expr(burn.format(e="errs", t="total")).alias("burn1_e6"),
        F.expr(burn.format(e="errs7", t="total7")).alias("burn7_e6"),
        F.expr(f"({burn.format(e='errs', t='total')}) > 1000000"
               f" and ({burn.format(e='errs7', t='total7')}) > 1000000")
         .alias("alert"))


def _slo_sql() -> str:
    burn = ("CASE WHEN {t} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE 1000000 * {_SLO_DEN} * {{e}} // {{t}} END")
    return f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_DAY_US} AS day,
           CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS errs
    FROM events GROUP BY 1
),
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
days AS (
    SELECT d.day, b.mind FROM b
    CROSS JOIN LATERAL (SELECT unnest(generate_series(b.mind, b.maxd))
                        AS day) d
),
dense AS (
    SELECT dy.day - dy.mind AS day_rel,
           coalesce(dl.total, 0) AS total, coalesce(dl.errs, 0) AS errs
    FROM days dy LEFT JOIN daily dl ON dl.day = dy.day
),
trail AS (
    SELECT day_rel, errs, total,
           CAST(sum(errs) OVER (ORDER BY day_rel
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS errs7,
           CAST(sum(total) OVER (ORDER BY day_rel
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS total7
    FROM dense
)
SELECT day_rel, errs, total,
       {burn.format(e="errs", t="total")} AS burn1_e6,
       {burn.format(e="errs7", t="total7")} AS burn7_e6,
       ({burn.format(e="errs", t="total")}) > 1000000
           AND ({burn.format(e="errs7", t="total7")}) > 1000000 AS alert
FROM trail
"""


QUERIES["slo_burn_rate_alerts"] = (_slo_burn_rate_alerts, _slo_sql())


# --------------------------------------------------------------------------
# overdispersion_check: index of dispersion per daily series
# --------------------------------------------------------------------------

def _overdispersion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is daily volume Poisson-like or clumpy? The index of dispersion
    var/mean per series — the one-number test that decides whether a
    Poisson alerting model's thresholds are usable (D >> 1 means
    bursty arrivals and a negative-binomial model) — computed from
    exact integer moments on the zero-densified grid with a single
    floored double division. Also emits the exact integer z-score
    numerator of the (D-1) test for reference. Output per series:
    (event_type, n_days, mean_e3, dispersion_e6, overdispersed).

    Scale: one map-side-combinable aggregate; the verdict is scalar
    algebra on types-sized rows.
    """
    daily = _daily_counts(spark, sf_dir)
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"))
    dense = (types.crossJoin(F.broadcast(days))
             .join(daily, ["event_type", "day"], "left")
             .select("event_type", F.coalesce("x", F.lit(0)).alias("x")))
    m = (dense.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
              F.sum(F.col("x") * F.col("x")).alias("sxx")))
    disp = ("cast(floor(1000000.0"
            " * cast(n * sxx - sx * sx as double)"
            " / (cast(n as double) * greatest(sx, 1))) as bigint)")
    return m.select(
        "event_type", F.col("n").alias("n_days"),
        F.expr("cast(floor(1000.0 * cast(sx as double) / n) as bigint)")
         .alias("mean_e3"),
        F.expr(disp).alias("dispersion_e6"),
        F.expr(f"({disp}) > 1000000").alias("overdispersed"))


_OVERDISP_SQL = f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day
    FROM types t CROSS JOIN b bb
    CROSS JOIN LATERAL (SELECT unnest(generate_series(bb.mind, bb.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
m AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM dense GROUP BY event_type
)
SELECT event_type, n AS n_days,
       CAST(floor(1000.0 * CAST(sx AS DOUBLE) / n) AS BIGINT)
           AS mean_e3,
       CAST(floor(1000000.0 * CAST(n * sxx - sx * sx AS DOUBLE)
            / (CAST(n AS DOUBLE) * greatest(sx, 1))) AS BIGINT)
           AS dispersion_e6,
       CAST(floor(1000000.0 * CAST(n * sxx - sx * sx AS DOUBLE)
            / (CAST(n AS DOUBLE) * greatest(sx, 1))) AS BIGINT)
           > 1000000 AS overdispersed
FROM m
"""

QUERIES["overdispersion_check"] = (_overdispersion_check, _OVERDISP_SQL)


# --------------------------------------------------------------------------
# seasonal_decomposition: classical trend / seasonal / remainder split
# --------------------------------------------------------------------------

def _seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition per daily series: trend =
    centered 7-day moving average (an exact (1000*sum7) div 7
    rational — no float mean), seasonal = per-day-of-week mean of the
    detrended series, remainder = what's left — the exploratory split
    behind 'is this spike trend, weekday pattern, or genuinely new'.
    Day-of-week is integer epoch arithmetic ((day+4)%7, CLAUDE.md).
    Only days with a full centered window are emitted. Output:
    (event_type, day_rel, x, trend_e3, seasonal_e3, remainder_e3)
    with x + 0 = (trend + seasonal + remainder)/1000 up to floor
    error (pinned by test).

    Scale: daily matrix aggregate, two window passes (centered sum,
    dow means via a keyed aggregate joined back) — days x types rows
    throughout.
    """
    from pyspark.sql import Window

    daily = _daily_counts(spark, sf_dir)
    b = daily.agg(F.min("day").alias("mind"), F.max("day").alias("maxd"))
    types = daily.select("event_type").distinct()
    days = b.select(F.explode(F.sequence("mind", "maxd")).alias("day"),
                    "mind", "maxd")
    dense = (types.crossJoin(F.broadcast(days))
             .join(daily, ["event_type", "day"], "left")
             .select("event_type", "day", "mind", "maxd",
                     F.coalesce("x", F.lit(0)).alias("x")))
    w7 = (Window.partitionBy("event_type").orderBy("day")
          .rowsBetween(-3, 3))
    t = (dense
         .withColumn("sum7", F.sum("x").over(w7))
         .where((F.col("day") >= F.col("mind") + 3)
                & (F.col("day") <= F.col("maxd") - 3))
         .select("event_type", (F.col("day") - F.col("mind"))
                 .alias("day_rel"),
                 F.expr("(day + 4) % 7").alias("dow"), "x",
                 F.expr("(1000 * sum7) div 7").alias("trend_e3"))
         .withColumn("det_e3",
                     F.expr("1000 * x - trend_e3")))
    seas = (t.groupBy("event_type", "dow")
            .agg(F.expr("cast(floor(cast(sum(det_e3) as double)"
                        " / count(*)) as bigint)").alias("seasonal_e3")))
    return (t.join(F.broadcast(seas), ["event_type", "dow"])
            .select("event_type", "day_rel", "x", "trend_e3",
                    "seasonal_e3",
                    F.expr("det_e3 - seasonal_e3").alias("remainder_e3")))


_SEAS_SQL = f"""
WITH {_DAILY_SQL},
b AS (SELECT min(day) AS mind, max(day) AS maxd FROM daily),
types AS (SELECT DISTINCT event_type FROM daily),
grid AS (
    SELECT t.event_type, d.day, bb.mind, bb.maxd
    FROM types t CROSS JOIN b bb
    CROSS JOIN LATERAL (SELECT unnest(generate_series(bb.mind, bb.maxd))
                        AS day) d
),
dense AS (
    SELECT g.event_type, g.day, g.mind, g.maxd, coalesce(dl.x, 0) AS x
    FROM grid g LEFT JOIN daily dl
      ON dl.event_type = g.event_type AND dl.day = g.day
),
t AS (
    SELECT event_type, day - mind AS day_rel, (day + 4) % 7 AS dow, x,
           (1000 * CAST(sum(x) OVER (PARTITION BY event_type
                ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                AS BIGINT)) // 7 AS trend_e3
    FROM dense
    QUALIFY day >= mind + 3 AND day <= maxd - 3
),
t2 AS (SELECT *, 1000 * x - trend_e3 AS det_e3 FROM t),
seas AS (
    SELECT event_type, dow,
           CAST(floor(CAST(sum(det_e3) AS DOUBLE) / count(*)) AS BIGINT)
               AS seasonal_e3
    FROM t2 GROUP BY 1, 2
)
SELECT t2.event_type, t2.day_rel, t2.x, t2.trend_e3, s.seasonal_e3,
       t2.det_e3 - s.seasonal_e3 AS remainder_e3
FROM t2 JOIN seas s USING (event_type, dow)
"""

QUERIES["seasonal_decomposition"] = (_seasonal_decomposition, _SEAS_SQL)


# --------------------------------------------------------------------------
# time_weighted_average: trapezoidal TWA over irregular samples
# --------------------------------------------------------------------------

def _time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of ``value`` per event type — the
    correct mean for IRREGULARLY sampled series (a plain AVG
    overweights bursts; TWA integrates the trapezoid between
    consecutive observations and divides by the covered span), the
    staple of sensor rollups and financial TWAP. Every trapezoid term
    is an exact int64 (microsecond gap x milli-value sum; headroom:
    gap_us * vm needs per-pair products < 2^63 — a month in
    microseconds x 2e12 milli-units), summed exactly; ONE double
    division at the end. Also emits the plain average so the burst
    bias is visible. Output per type: (event_type, n_samples,
    span_us, twa_e3, plain_avg_e3, bias_e3).

    Scale: one keyed window lag over the per-type event stream (the
    asof/adjacent-change shuffle shape) and a map-side-combinable
    aggregate; nothing else moves.
    """
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp))").alias("t"),
        F.expr("cast(round(value * 1000, 0) as bigint)").alias("vm"),
        "event_id")
    w = Window.partitionBy("event_type").orderBy("t", "event_id")
    lagged = (ev
              .withColumn("pt", F.lag("t").over(w))
              .withColumn("pv", F.lag("vm").over(w)))
    agg = (lagged.groupBy("event_type")
           .agg(F.count(F.lit(1)).alias("n_samples"),
                F.sum("vm").alias("svm"),
                (F.max("t") - F.min("t")).alias("span_us"),
                F.sum(F.when(F.col("pt").isNotNull(),
                             (F.col("t") - F.col("pt"))
                             * (F.col("vm") + F.col("pv")))
                      .otherwise(0)).alias("trap2")))
    # trap2 = 2 * integral in (us x milli) units
    twa = ("cast(floor(cast(trap2 as double)"
           " / (2.0 * greatest(span_us, 1))) as bigint)")
    avg = ("cast(floor(cast(svm as double) / n_samples) as bigint)")
    return agg.select(
        "event_type", "n_samples", "span_us",
        F.expr(twa).alias("twa_e3"), F.expr(avg).alias("plain_avg_e3"),
        F.expr(f"({twa}) - ({avg})").alias("bias_e3"))


_TWA_SQL = """
WITH ev AS (
    SELECT event_type, epoch_us(ts) AS t,
           CAST(round(value * 1000, 0) AS BIGINT) AS vm, event_id
    FROM events
),
lagged AS (
    SELECT event_type, t, vm,
           lag(t) OVER (PARTITION BY event_type
                        ORDER BY t, event_id) AS pt,
           lag(vm) OVER (PARTITION BY event_type
                         ORDER BY t, event_id) AS pv
    FROM ev
),
agg AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(vm) AS BIGINT) AS svm,
           CAST(max(t) - min(t) AS BIGINT) AS span_us,
           CAST(sum(CASE WHEN pt IS NOT NULL
                         THEN (t - pt) * (vm + pv) ELSE 0 END)
                AS BIGINT) AS trap2
    FROM lagged GROUP BY event_type
)
SELECT event_type, n_samples, span_us,
       CAST(floor(CAST(trap2 AS DOUBLE)
            / (2.0 * greatest(span_us, 1))) AS BIGINT) AS twa_e3,
       CAST(floor(CAST(svm AS DOUBLE) / n_samples) AS BIGINT)
           AS plain_avg_e3,
       CAST(floor(CAST(trap2 AS DOUBLE)
            / (2.0 * greatest(span_us, 1))) AS BIGINT)
       - CAST(floor(CAST(svm AS DOUBLE) / n_samples) AS BIGINT)
           AS bias_e3
FROM agg
"""

QUERIES["time_weighted_average"] = (_time_weighted_average, _TWA_SQL)


# --------------------------------------------------------------------------
# jackknife_block_variance: delete-a-block jackknife SE for the daily mean
# --------------------------------------------------------------------------

def _jackknife_block_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-a-block jackknife standard error for mean daily revenue.
    Daily order totals are serially correlated, so the i.i.d. variance
    formula understates the SE of the mean; the block jackknife
    (delete one WEEK at a time, recompute the mean from the exact
    remaining totals, variance of the B leave-one-out estimates
    scaled by (B−1)/B) is the classic fix that needs only one pass.
    θ₍ᵦ₎ = (S − s_b)/(N − n_b) is one double division of exact int64
    cents/counts; the two float reductions (mean of θ₍ᵦ₎, then the
    centered sum of squares) are explicit left folds over the
    block-sorted array, identical in both engines.

    Scale: the 100 TB work is the one map-side-combinable daily
    aggregate; blocks (weeks) are report-sized, so the folds are free.
    Cents headroom: Σ price_c at SF100k still < 2^63.
    """
    orders = load(spark, sf_dir, "orders").select(
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"))
    daily = (orders.groupBy("day")
             .agg(F.sum("price_c").alias("rev_c")))
    blocks = (daily.groupBy((F.col("day") / 7).cast("long").alias("b"))
              .agg(F.sum("rev_c").alias("sb"),
                   F.count(F.lit(1)).alias("nb")))
    folded = blocks.agg(
        F.array_sort(F.collect_list(F.struct("b", "sb", "nb"))).alias("xs"),
        F.sum("sb").alias("s"), F.sum("nb").alias("n"),
        F.count(F.lit(1)).alias("bcnt"))
    stage1 = folded.select(
        "xs", "s", "n", "bcnt",
        F.expr("aggregate(xs, cast(0.0 as double), (a, x) -> "
               "a + cast(s - x.sb as double) / (n - x.nb))").alias("tsum"))
    return stage1.select(
        F.col("n").alias("n_days"), F.col("bcnt").alias("n_blocks"),
        F.expr("cast(floor(1000.0 * s / n) as bigint)").alias("theta_e3"),
        F.expr("cast(floor(1000.0 * tsum / bcnt) as bigint)")
        .alias("jack_mean_e3"),
        F.expr("cast(floor(1000.0 * sqrt(cast(bcnt - 1 as double) / bcnt"
               " * aggregate(xs, cast(0.0 as double), (a, x) -> "
               "a + (cast(s - x.sb as double) / (n - x.nb) - tsum / bcnt)"
               " * (cast(s - x.sb as double) / (n - x.nb) - tsum / bcnt))"
               ")) as bigint)").alias("se_e3"))


_JACKKNIFE_SQL = """
WITH orders_c AS (
  SELECT epoch_us(o_orderdate) // 86400000000 AS day,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
  FROM orders
), daily AS (
  SELECT day, CAST(sum(price_c) AS BIGINT) AS rev_c
  FROM orders_c GROUP BY day
), blocks AS (
  SELECT CAST(day // 7 AS BIGINT) AS b, CAST(sum(rev_c) AS BIGINT) AS sb,
         CAST(count(*) AS BIGINT) AS nb
  FROM daily GROUP BY 1
), folded AS (
  SELECT list_sort(list(struct_pack(b := b, sb := sb, nb := nb))) AS xs,
         CAST(sum(sb) AS BIGINT) AS s, CAST(sum(nb) AS BIGINT) AS n,
         CAST(count(*) AS BIGINT) AS bcnt
  FROM blocks
), stage1 AS (
  SELECT xs, s, n, bcnt,
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(xs, x ->
             CAST(s - x.sb AS DOUBLE) / (n - x.nb))),
           (a, t) -> a + t) AS tsum
  FROM folded
)
SELECT n AS n_days, bcnt AS n_blocks,
       CAST(floor(1000.0 * s / n) AS BIGINT) AS theta_e3,
       CAST(floor(1000.0 * tsum / bcnt) AS BIGINT) AS jack_mean_e3,
       CAST(floor(1000.0 * sqrt(CAST(bcnt - 1 AS DOUBLE) / bcnt *
         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           list_transform(xs, x ->
             (CAST(s - x.sb AS DOUBLE) / (n - x.nb) - tsum / bcnt)
             * (CAST(s - x.sb AS DOUBLE) / (n - x.nb) - tsum / bcnt))),
           (a, t) -> a + t))) AS BIGINT) AS se_e3
FROM stage1
"""

QUERIES["jackknife_block_variance"] = (_jackknife_block_variance,
                                       _JACKKNIFE_SQL)


# --------------------------------------------------------------------------
# croston_forecast: intermittent-demand forecasting (Croston + SBC)
# --------------------------------------------------------------------------

_CROSTON_MIN_DEMANDS = 5  # parts with fewer demand days are not forecastable


def _croston_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method per part over its daily shipment series — the
    standard forecaster for INTERMITTENT demand (most days zero, the
    exact regime where EWMA/Holt on the raw series collapses toward
    zero between demands). Two coupled EWMAs over demand days only:
    size ``z ← z + α(q−z)`` and inter-arrival interval
    ``p ← p + α(gap−p)``, forecast ``z/p`` per day, plus the
    Syntetos–Boylan bias correction ``(1−α/2)·z/p``.

    Fixed point: α = 1/8, state held in e3 integers, every update a
    floor of an /8 rational — bit-identical across engines (the holt
    fold discipline). The fold accumulator orders its struct fields so
    every acc read precedes that field's write (DuckDB list_reduce
    evaluates struct_pack IN PLACE — CLAUDE.md): z and p read
    ``acc.n/acc.prev`` which are written after them. Forecasts are
    integer divisions of int64 — no floats anywhere.

    Scale: one (part, day) map-side-combinable aggregate over the
    100 TB fact stream, one groupBy-part collect of each part's
    OWN demand days (bounded by the calendar, not the corpus), one
    interpreted fold per part. No cross-part anything.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("unix_micros(cast(l_shipdate as timestamp))"
               " div 86400000000").alias("day"),
        F.col("l_quantity").cast("long").alias("q"))
    daily = (li.groupBy("l_partkey", "day")
             .agg(F.sum("q").alias("q")))
    arr = (daily.groupBy("l_partkey")
           .agg(F.array_sort(F.collect_list(F.struct("day", "q")))
                .alias("xs"),
                F.count(F.lit(1)).alias("n_demands"))
           .filter(F.col("n_demands") >= _CROSTON_MIN_DEMANDS))
    fold = (
        "aggregate(xs, named_struct("
        "'z', cast(0 as bigint), 'p', cast(0 as bigint), "
        "'prev', cast(0 as bigint), 'n', cast(0 as bigint)), "
        "(acc, x) -> named_struct("
        "'z', case when acc.n = 0 then 1000 * x.q"
        " else cast(floor((7 * acc.z + 1000 * x.q) / 8) as bigint) end, "
        "'p', case when acc.n = 0 then cast(1000 as bigint)"
        " else cast(floor((7 * acc.p + 1000 * (x.day - acc.prev)) / 8)"
        " as bigint) end, "
        "'prev', x.day, 'n', acc.n + 1))")
    out = (arr.select("l_partkey", "n_demands", F.expr(fold).alias("f"))
           .select("l_partkey", "n_demands",
                   F.col("f.z").alias("z_e3"), F.col("f.p").alias("p_e3"),
                   F.expr("(1000 * f.z) div greatest(f.p, 1)")
                   .alias("croston_e3"))
           .withColumn("sbc_e3",
                       F.expr("(15 * croston_e3) div 16")))
    return out


_CROSTON_SQL = f"""
WITH li AS (
  SELECT l_partkey, epoch_us(l_shipdate) // 86400000000 AS day,
         CAST(l_quantity AS BIGINT) AS q
  FROM lineitem
), daily AS (
  SELECT l_partkey, day, CAST(sum(q) AS BIGINT) AS q
  FROM li GROUP BY l_partkey, day
), arr AS (
  SELECT l_partkey,
         list_sort(list(struct_pack(day := day, q := q))) AS xs,
         CAST(count(*) AS BIGINT) AS n_demands
  FROM daily GROUP BY l_partkey
  HAVING count(*) >= {_CROSTON_MIN_DEMANDS}
), folded AS (
  -- LIST accumulator [z, p, prev, n] — homogeneous BIGINT list, each
  -- (day, q) element rides as [0, 0, day, q]. (Formerly a struct_pack
  -- accumulator; DuckDB 1.0 corrupts those under grouped ragged
  -- lists — cooldown_dedup incident, CLAUDE.md.)
  SELECT l_partkey, n_demands,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                         CAST(0 AS BIGINT), CAST(0 AS BIGINT)], xs2),
           (acc, x) -> [
             CASE WHEN acc[4] = 0 THEN 1000 * x[4]
                  ELSE CAST(floor((7 * acc[1] + 1000 * x[4]) / 8)
                            AS BIGINT) END,
             CASE WHEN acc[4] = 0 THEN CAST(1000 AS BIGINT)
                  ELSE CAST(floor((7 * acc[2]
                                   + 1000 * (x[3] - acc[3])) / 8)
                            AS BIGINT) END,
             x[3], acc[4] + 1]) AS f
  FROM (SELECT l_partkey, n_demands,
               list_transform(xs, x -> [CAST(0 AS BIGINT),
                                        CAST(0 AS BIGINT),
                                        x.day, x.q]) AS xs2
        FROM arr)
)
SELECT l_partkey, n_demands, f[1] AS z_e3, f[2] AS p_e3,
       (1000 * f[1]) // greatest(f[2], 1) AS croston_e3,
       (15 * ((1000 * f[1]) // greatest(f[2], 1))) // 16 AS sbc_e3
FROM folded
"""

QUERIES["croston_forecast"] = (_croston_forecast, _CROSTON_SQL)


# --------------------------------------------------------------------------
# mann_kendall_trend: non-parametric monotonic trend test per series
# --------------------------------------------------------------------------


def _mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on each event type's daily volume — the
    standard distribution-free "is this series drifting?" monitor
    (no linearity or normality assumption, robust to outliers, the
    usual first gate before alerting on a KPI). Statistic
    ``S = Σ_{i<j} sign(x_j − x_i)`` over day-ordered pairs, tie-aware
    variance ``18·Var = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)``, and the
    continuity-corrected normal score ``z = (S ∓ 1)/sqrt(Var)``.

    Determinism: S and 18·Var are exact int64 (pair signs and tie
    runs are integers); z is one IEEE-exact pipeline (int→double cast,
    /18.0, sqrt, divide — all correctly rounded, no libm
    transcendentals) then round(6); the trend label compares the
    ROUNDED z to ±1.96 so both engines classify identically.

    Scale: the pair self-join is days² per series — the daily matrix
    (days × types) is a calendar-bounded reduction of the raw 100 TB
    stream, so ~366² ≈ 134k sign pairs per series regardless of corpus
    size. The daily aggregate feeds FOUR plan branches (both sides of
    the sign join, n_days, ties), so it is persisted (tracked by
    tables.persist, released via tables.release()) — one scan of the raw
    stream total. int64 headroom: |S| ≤ n² ≈ 1.3e5.
    """
    daily = persist(_daily_counts(spark, sf_dir))
    a, b = daily.alias("a"), daily.alias("b")
    s = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("a.day") < F.col("b.day")))
         .groupBy(F.col("a.event_type").alias("event_type"))
         .agg(F.sum(F.when(F.col("b.x") > F.col("a.x"), 1)
                    .when(F.col("b.x") < F.col("a.x"), -1)
                    .otherwise(0)).alias("s_stat")))
    nd = daily.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (daily.groupBy("event_type", "x")
            .agg(F.count(F.lit(1)).alias("t"))
            .groupBy("event_type")
            .agg(F.sum(F.expr("t * (t - 1) * (2 * t + 5)"))
                 .alias("tie_term")))
    var18 = F.expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term")
    z = F.expr("CASE WHEN var18 <= 0 THEN 0.0 "
               "WHEN s_stat > 0 THEN round((s_stat - 1)"
               " / sqrt(var18 / 18.0), 6) "
               "WHEN s_stat < 0 THEN round((s_stat + 1)"
               " / sqrt(var18 / 18.0), 6) ELSE 0.0 END")
    return (nd.join(ties, "event_type").join(s, "event_type")
            .withColumn("var18", var18)
            .select("event_type", "n_days", "s_stat",
                    F.col("var18").alias("var_s_x18"),
                    z.alias("z_mk"))
            .withColumn("trend",
                        F.when(F.col("z_mk") > 1.96, F.lit("increasing"))
                         .when(F.col("z_mk") < -1.96, F.lit("decreasing"))
                         .otherwise(F.lit("none"))))


_MANN_KENDALL_SQL = f"""
WITH {_DAILY_SQL},
s AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
             AS s_stat
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
  GROUP BY 1
),
nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
        FROM daily GROUP BY 1, 2)
  GROUP BY 1
),
stat AS (
  SELECT nd.event_type, nd.n_days, s.s_stat,
         nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5) - ties.tie_term
             AS var18
  FROM nd JOIN ties ON nd.event_type = ties.event_type
          JOIN s ON nd.event_type = s.event_type
),
scored AS (
  SELECT event_type, n_days, s_stat, var18 AS var_s_x18,
         CASE WHEN var18 <= 0 THEN 0.0
              WHEN s_stat > 0 THEN round((s_stat - 1)
                                         / sqrt(var18 / 18.0), 6)
              WHEN s_stat < 0 THEN round((s_stat + 1)
                                         / sqrt(var18 / 18.0), 6)
              ELSE 0.0 END AS z_mk
  FROM stat
)
SELECT event_type, n_days, s_stat, var_s_x18, z_mk,
       CASE WHEN z_mk > 1.96 THEN 'increasing'
            WHEN z_mk < -1.96 THEN 'decreasing'
            ELSE 'none' END AS trend
FROM scored
"""

QUERIES["mann_kendall_trend"] = (_mann_kendall_trend, _MANN_KENDALL_SQL)


# --------------------------------------------------------------------------
# spearman_daily_correlation: rank correlation between event-type series
# --------------------------------------------------------------------------


def _spearman_daily_correlation(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily volumes — the monotonic-association twin of
    ``crosscorr_event_types`` (Pearson): insensitive to heavy-tailed
    daily counts and to any monotone rescaling, so it's the drift
    screen that survives traffic-mix changes.

    Tie-aware ranks are held as exact integers at 2× scale
    (``avg2 = 2·rank_min + (ties − 1)``, i.e. twice the midrank), so
    all six Pearson moments over the ranks are exact int64; rho is the
    single IEEE-exact combination num/(sqrt(dx)·sqrt(dy)) then
    round(6) — no libm transcendentals anywhere (module convention).

    Scale: runs on the calendar-bounded daily matrix (days × types
    rows at ANY corpus size); one day-keyed self-join emits every
    type pair per day in a single pass, and the two rank windows are
    each bounded by the calendar — fine for thousands of series.
"""
    daily = _daily_counts(spark, sf_dir)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (a.join(b, (F.col("a.day") == F.col("b.day"))
                    & (F.col("a.event_type") < F.col("b.event_type")))
             .select(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"),
                     F.col("a.x").alias("xa"), F.col("b.x").alias("xb")))
    wpair = ["type_a", "type_b"]
    ra = (2 * F.rank().over(Window.partitionBy(*wpair).orderBy("xa"))
          + F.count(F.lit(1)).over(Window.partitionBy(*wpair, "xa")) - 1)
    rb = (2 * F.rank().over(Window.partitionBy(*wpair).orderBy("xb"))
          + F.count(F.lit(1)).over(Window.partitionBy(*wpair, "xb")) - 1)
    ranked = pairs.select("type_a", "type_b",
                          ra.cast("long").alias("ra"),
                          rb.cast("long").alias("rb"))
    m = (ranked.groupBy("type_a", "type_b")
         .agg(F.count(F.lit(1)).alias("n_days"),
              F.sum("ra").alias("sx"), F.sum("rb").alias("sy"),
              F.sum(F.col("ra") * F.col("ra")).alias("sxx"),
              F.sum(F.col("rb") * F.col("rb")).alias("syy"),
              F.sum(F.col("ra") * F.col("rb")).alias("sxy")))
    rho = F.expr(
        "CASE WHEN (n_days * sxx - sx * sx) <= 0"
        " OR (n_days * syy - sy * sy) <= 0 THEN NULL"
        " ELSE round((n_days * sxy - sx * sy)"
        " / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))"
        " * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))), 6) END")
    return m.select("type_a", "type_b", "n_days", rho.alias("rho_s"))


_SPEARMAN_SQL = f"""
WITH {_DAILY_SQL},
joined AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.x AS xa, b.x AS xb
  FROM daily a JOIN daily b
    ON a.day = b.day AND a.event_type < b.event_type
),
ranked AS (
  SELECT type_a, type_b,
         CAST(2 * rank() OVER (PARTITION BY type_a, type_b ORDER BY xa)
              + count(*) OVER (PARTITION BY type_a, type_b, xa) - 1
              AS BIGINT) AS ra,
         CAST(2 * rank() OVER (PARTITION BY type_a, type_b ORDER BY xb)
              + count(*) OVER (PARTITION BY type_a, type_b, xb) - 1
              AS BIGINT) AS rb
  FROM joined
),
m AS (
  SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(ra) AS BIGINT) AS sx, CAST(sum(rb) AS BIGINT) AS sy,
         CAST(sum(ra * ra) AS BIGINT) AS sxx,
         CAST(sum(rb * rb) AS BIGINT) AS syy,
         CAST(sum(ra * rb) AS BIGINT) AS sxy
  FROM ranked GROUP BY 1, 2
)
SELECT type_a, type_b, n_days,
       CASE WHEN (n_days * sxx - sx * sx) <= 0
              OR (n_days * syy - sy * sy) <= 0 THEN NULL
            ELSE round((n_days * sxy - sx * sy)
                       / (sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE))
                          * sqrt(CAST(n_days * syy - sy * sy AS DOUBLE))),
                       6) END AS rho_s
FROM m
"""

QUERIES["spearman_daily_correlation"] = (_spearman_daily_correlation,
                                         _SPEARMAN_SQL)


# ---------------------------------------------------------------------------
# walk_forward_splits: backtesting split planner (expanding window CV)
# ---------------------------------------------------------------------------
WF_FOLDS = 5


def _walk_forward_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward cross-validation planner: carve the event-time
    span into ``WF_FOLDS`` expanding-window folds — fold i trains on
    [d0, cut_i) and tests on the next test window, where the test
    width is span div (folds+1) and cut_i advances by even integer
    steps — and report per fold the exact train/test row counts and
    the train share: the split ledger a forecasting backtest publishes
    before anyone trusts its scores (leakage-free by construction:
    train strictly precedes test).

    Determinism: ALL fold geometry is integer day arithmetic derived
    from the corpus min/max (never wall-clock, never a constant that
    assumes a span — the driver corpus is 30 days at every sf).

    Scale: one scan to per-day counts (map-side), folds are a literal
    explode joined against the bounded day table.
    """
    days = (load(spark, sf_dir, "events")
            .select(F.expr("unix_micros(cast(ts as timestamp))"
                           " div 86400000000").alias("day"))
            .groupBy("day").agg(F.count(F.lit(1)).alias("c")))
    rng = F.broadcast(days.agg(F.min("day").alias("d0"),
                               F.max("day").alias("d1")))
    folds = F.explode(F.array(*[F.lit(i) for i in range(1, WF_FOLDS + 1)]))
    # test width and cut steps derive from the observed span
    per = (days.crossJoin(rng)
           .select("day", "c", folds.alias("fold"),
                   F.expr(f"greatest(1, (d1 - d0 + 1)"
                          f" div {WF_FOLDS + 1})").alias("tw"),
                   F.col("d0"), F.col("d1"))
           .select("fold", "tw",
                   F.expr(f"d0 + ((d1 - d0 + 1 - tw) * fold)"
                          f" div {WF_FOLDS}").alias("cut"),
                   "day", "c")
           .select("fold", "cut", "tw",
                   F.when(F.col("day") < F.col("cut"), F.col("c"))
                    .otherwise(0).alias("train_c"),
                   F.when((F.col("day") >= F.col("cut"))
                          & (F.col("day") < F.col("cut") + F.col("tw")),
                          F.col("c")).otherwise(0).alias("test_c")))
    return (per.groupBy("fold", "cut")
            .agg(F.sum("train_c").cast("long").alias("n_train"),
                 F.sum("test_c").cast("long").alias("n_test"))
            .select("fold", F.col("cut").alias("train_end_day"),
                    "n_train", "n_test",
                    F.expr("(1000000 * n_train) div (n_train + n_test)")
                     .alias("train_share_e6")))


def _wf_sql() -> str:
    return f"""
WITH days AS (
  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS c
  FROM events GROUP BY 1
),
rng AS (SELECT min(day) AS d0, max(day) AS d1 FROM days),
per AS (
  SELECT f.fold,
         greatest(1, (r.d1 - r.d0 + 1) // {WF_FOLDS + 1}) AS tw,
         r.d0 + ((r.d1 - r.d0 + 1
                  - greatest(1, (r.d1 - r.d0 + 1) // {WF_FOLDS + 1}))
                 * f.fold) // {WF_FOLDS} AS cut,
         d.day, d.c
  FROM days d CROSS JOIN rng r
  CROSS JOIN (SELECT unnest(range(1, {WF_FOLDS + 1})) AS fold) f
)
SELECT fold, cut AS train_end_day,
       CAST(sum(CASE WHEN day < cut THEN c ELSE 0 END) AS BIGINT)
           AS n_train,
       CAST(sum(CASE WHEN day >= cut AND day < cut + tw
                     THEN c ELSE 0 END) AS BIGINT) AS n_test,
       (1000000 * CAST(sum(CASE WHEN day < cut THEN c ELSE 0 END)
            AS BIGINT))
           // (CAST(sum(CASE WHEN day < cut THEN c ELSE 0 END) AS BIGINT)
               + CAST(sum(CASE WHEN day >= cut AND day < cut + tw
                               THEN c ELSE 0 END) AS BIGINT))
           AS train_share_e6
FROM per
GROUP BY 1, 2, tw
"""


QUERIES["walk_forward_splits"] = (_walk_forward_splits, _wf_sql())


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (m=7) + 7-day forecast
# ---------------------------------------------------------------------------
_HW_M = 7                    # weekly seasonality
_HW_SCALE = 1_000_000        # state kept in e6 micro-units


def _hw_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global daily count series (gap-filled with 0)."""
    ev = load(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
        .alias("day"))
    counts = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    span = counts.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence(F.lit(0),
                             (F.col("d1") - F.col("d0")).cast("int")))
        .alias("d"), "d0")
    return (spine.join(counts,
                       spine.d + spine.d0 == counts.day, "left")
            .select("d", F.coalesce("x", F.lit(0)).alias("y")))


def _holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing of the global daily
    event volume (m=7 weekly cycle, α=1/5, β=1/10, γ=1/5) with a
    7-day-ahead forecast — the seasonal upgrade of
    ``holt_linear_forecast`` that any traffic-capacity planner runs.
    State is a 10-slot LIST accumulator [i, level, trend, s0..s6] in
    exact e6 micro-units; every smoothing quotient is a small-
    denominator integer division (truncating identically in both
    engines for either sign — the measured round-8 div rule). The
    first 7 days initialize level = mean, s_j = y_j − level, trend 0.

    Scale: the corpus reduces to a calendar-bounded daily spine in one
    keyed aggregate; the fold is ~30 interpreted steps on one row. The
    h=1..7 forecast readout explodes from the folded state. Headroom:
    e6 counts hold to ~9·10¹¹ events/day.
    """
    series = (_hw_daily_spine(spark, sf_dir)
              .groupBy()
              .agg(F.expr("array_sort(collect_list(array(d, y)))")
                   .alias("ds")))
    # slots (1-based): 1=i, 2=level, 3=trend, 4+j = s_j
    sum_s = " + ".join(f"element_at(acc, {4 + j})" for j in range(_HW_M))
    fold = f"""
aggregate(
  transform(ds, e -> array(element_at(e, 1),
                           {_HW_SCALE} * element_at(e, 2))),
  transform(sequence(1, {3 + _HW_M}), x -> cast(0 as bigint)),
  (acc, e) -> transform(sequence(1, {3 + _HW_M}), p -> CASE
    WHEN p = 1 THEN element_at(acc, 1) + 1
    WHEN element_at(acc, 1) < {_HW_M - 1} THEN
      CASE WHEN p = cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)
           THEN element_at(e, 2) ELSE element_at(acc, p) END
    WHEN element_at(acc, 1) = {_HW_M - 1} THEN
      CASE WHEN p = 2 THEN ({sum_s} + element_at(e, 2)) div {_HW_M}
           WHEN p = 3 THEN cast(0 as bigint)
           ELSE (CASE WHEN p = cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)
                      THEN element_at(e, 2) ELSE element_at(acc, p) END)
                - (({sum_s} + element_at(e, 2)) div {_HW_M})
      END
    ELSE
      CASE
        WHEN p = 2 THEN
          ((element_at(e, 2)
            - element_at(acc, cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)))
           + 4 * (element_at(acc, 2) + element_at(acc, 3))) div 5
        WHEN p = 3 THEN
          (((((element_at(e, 2)
               - element_at(acc, cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)))
              + 4 * (element_at(acc, 2) + element_at(acc, 3))) div 5)
            - element_at(acc, 2))
           + 9 * element_at(acc, 3)) div 10
        WHEN p = cast(4 + pmod(element_at(e, 1), {_HW_M}) as int) THEN
          ((element_at(e, 2)
            - ((element_at(e, 2)
                - element_at(acc, cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)))
               + 4 * (element_at(acc, 2) + element_at(acc, 3))) div 5)
           + 4 * element_at(acc, cast(4 + pmod(element_at(e, 1), {_HW_M}) as int)))
          div 5
        ELSE element_at(acc, p)
      END
  END))
"""
    folded = series.select(F.expr(fold).alias("a"))
    return (folded
            .select("a", F.explode(F.sequence(F.lit(1), F.lit(7)))
                    .alias("h"))
            .select(
                "h",
                F.expr(f"element_at(a, 1)").alias("n_days"),
                F.expr("element_at(a, 2)").alias("level_e6"),
                F.expr("element_at(a, 3)").alias("trend_e6"),
                F.expr(f"element_at(a, 2) + h * element_at(a, 3)"
                       f" + element_at(a, cast(4 + pmod(element_at(a, 1)"
                       f" - 1 + h, {_HW_M}) as int))").alias("forecast_e6"))
            )


def _hw_sql() -> str:
    m, sc = _HW_M, _HW_SCALE
    sum_s = " + ".join(f"acc[{4 + j}]" for j in range(m))
    return f"""
WITH counts AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), span AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM counts
), spine AS (
  SELECT CAST(u.d AS BIGINT) AS d, s.d0
  FROM span s, unnest(range(0, s.d1 - s.d0 + 1)) AS u(d)
), series AS (
  SELECT list([sp.d, {sc} * COALESCE(c.x, 0)] ORDER BY sp.d) AS ds
  FROM spine sp LEFT JOIN counts c ON sp.d + sp.d0 = c.day
), folded AS (
  SELECT list_reduce(
    list_prepend(list_transform(range(1, {3 + m} + 1), x -> 0::BIGINT), ds),
    (acc, e) -> list_transform(range(1, {3 + m} + 1), p -> CASE
      WHEN p = 1 THEN acc[1] + 1
      WHEN acc[1] < {m - 1} THEN
        CASE WHEN p = 4 + (e[1] % {m}) THEN e[2] ELSE acc[p] END
      WHEN acc[1] = {m - 1} THEN
        CASE WHEN p = 2 THEN ({sum_s} + e[2]) // {m}
             WHEN p = 3 THEN 0::BIGINT
             ELSE (CASE WHEN p = 4 + (e[1] % {m})
                        THEN e[2] ELSE acc[p] END)
                  - (({sum_s} + e[2]) // {m})
        END
      ELSE
        CASE
          WHEN p = 2 THEN
            ((e[2] - acc[4 + (e[1] % {m})])
             + 4 * (acc[2] + acc[3])) // 5
          WHEN p = 3 THEN
            (((((e[2] - acc[4 + (e[1] % {m})])
                + 4 * (acc[2] + acc[3])) // 5) - acc[2])
             + 9 * acc[3]) // 10
          WHEN p = 4 + (e[1] % {m}) THEN
            ((e[2] - ((e[2] - acc[4 + (e[1] % {m})])
                      + 4 * (acc[2] + acc[3])) // 5)
             + 4 * acc[4 + (e[1] % {m})]) // 5
          ELSE acc[p]
        END
    END)) AS a
  FROM series
)
SELECT CAST(h.h AS INT) AS h, a[1] AS n_days, a[2] AS level_e6,
       a[3] AS trend_e6,
       a[2] + h.h * a[3] + a[CAST(4 + ((a[1] - 1 + h.h) % {m}) AS INT)]
           AS forecast_e6
FROM folded, unnest(range(1, 8)) AS h(h)
"""


QUERIES["holt_winters_additive"] = (_holt_winters_additive, _hw_sql())


# ---------------------------------------------------------------------------
# Haar wavelet energy pyramid over the daily series (5 dyadic levels)
# ---------------------------------------------------------------------------
_HAAR_N = 32   # zero-padded dyadic length for the ~30-day corpus


def _haar_wavelet_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unnormalized integer Haar decomposition of the global daily
    event count series (zero-padded to {n}): five levels of pairwise
    (a+b, a−b), reporting per level the detail energy Σd² — the
    multi-resolution "where does the variance live" profile (level 1 =
    day-to-day noise, level 5 = half-month swing) that picks the right
    smoothing window before anyone fits a forecast. Integer transform
    ⇒ exact int64 at every level (Parseval holds up to the missing
    1/2^k normalization, asserted in the invariant test).

    Scale: the corpus reduces to the calendar-bounded daily spine in
    one aggregate; each level is a ≤{n}-row keyed aggregation. All
    engine-side, no fold (pairing is data-parallel per level).
    """
    daily = (_hw_daily_spine(spark, sf_dir)
             .select("d", F.col("y").alias("v")))
    # dyadic frame: days beyond _HAAR_N truncate, missing days pad 0
    # (both engines index the same 0-based spine)
    cur = (daily.groupBy().agg(F.lit(0).alias("_z"))
           .select(F.explode(F.sequence(F.lit(0), F.lit(_HAAR_N - 1)))
                   .alias("d"))
           .join(daily, "d", "left")
           .select("d", F.coalesce("v", F.lit(0)).alias("v")))
    out = None
    for level in range(1, 6):
        nxt = (cur.groupBy((F.col("d") - F.pmod(F.col("d"), 2) )
                   .alias("_p"))
               .agg(F.sum("v").alias("a"),
                    F.sum(F.when(F.pmod(F.col("d"), 2) == 0, F.col("v"))
                          .otherwise(-F.col("v"))).alias("det"))
               .select((F.col("_p") / 2).cast("long").alias("d"),
                       F.col("a").alias("v"), "det"))
        lvl = nxt.agg(F.lit(level).alias("level"),
                      F.sum(F.col("det") * F.col("det")).alias("energy"),
                      F.count(F.lit(1)).cast("long").alias("n_pairs"))
        out = lvl if out is None else out.unionAll(lvl)
        cur = nxt.select("d", "v")
    return out


def _haar_sql() -> str:
    lvls = []
    prev = "lvl0"
    for level in range(1, 6):
        lvls.append(f"""lvl{level} AS (
  SELECT (d - (d % 2)) // 2 AS d, CAST(sum(v) AS BIGINT) AS v,
         CAST(sum(CASE WHEN d % 2 = 0 THEN v ELSE -v END) AS BIGINT) AS det
  FROM {prev} GROUP BY 1
)""")
        prev = f"lvl{level}"
    selects = " UNION ALL ".join(
        f"SELECT {level} AS level, CAST(sum(det * det) AS BIGINT) AS energy,"
        f" CAST(count(*) AS BIGINT) AS n_pairs FROM lvl{level}"
        for level in range(1, 6))
    return f"""
WITH counts AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), span AS (
  SELECT min(day) AS d0 FROM counts
), lvl0 AS (
  SELECT CAST(u.d AS BIGINT) AS d,
         COALESCE((SELECT c.x FROM counts c, span s
                   WHERE c.day = u.d + s.d0), 0) AS v
  FROM unnest(range(0, {_HAAR_N})) AS u(d)
), {', '.join(lvls)}
{selects}
"""


QUERIES["haar_wavelet_energy"] = (_haar_wavelet_energy, _haar_sql())


# ---------------------------------------------------------------------------
# Needleman-Wunsch alignment of two daily event-type sequences
# ---------------------------------------------------------------------------
_NW_MATCH, _NW_MISS, _NW_GAP = 2, -1, -1
_NW_SPLIT = 15   # first-half vs second-half day sequences


def _nw_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sequence alignment (Needleman-Wunsch, match +2 /
    mismatch −1 / gap −1) between the month's two half-sequences of
    DAILY DOMINANT event types — "does the traffic-mix rhythm repeat
    across halves" as an alignment score rather than a distribution
    test. The DP runs as a NESTED integer fold: the outer fold walks
    sequence A carrying the previous DP row (LIST accumulator), the
    inner fold builds each new row left-to-right (its own growing
    LIST) — both engines were probed to evaluate nested
    fold-in-fold lambdas over consistent snapshots this round. All
    cells exact int64.

    Daily dominant types are struct-min argmax ((−cnt, type) — count
    desc, alphabetical tie-break). Scale: the corpus reduces to a
    calendar-bounded (day × type) aggregate; the DP is ~15×15 cells
    on ONE row. Alignment of corpus-scale sequence PAIRS would wrap
    the identical recurrence in applyInPandas per pair.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {_DAY_US}")
        .alias("day"))
    d0 = ev.agg(F.min("day").alias("d0"))
    counts = (ev.crossJoin(F.broadcast(d0))
              .groupBy((F.col("day") - F.col("d0")).alias("d"),
                       "event_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    dom = (counts.groupBy("d")
           .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                               F.col("event_type").alias("t"))).alias("m"))
           .select("d", F.col("m.t").alias("t")))
    packed = (dom.groupBy()
              .agg(F.expr(f"array_sort(collect_list(struct(d, t)))")
                   .alias("seq"))
              .select(
                  F.expr(f"transform(filter(seq, s -> s.d < {_NW_SPLIT}),"
                         f" s -> s.t)").alias("a"),
                  F.expr(f"transform(filter(seq, s -> s.d >= {_NW_SPLIT}),"
                         f" s -> s.t)").alias("b")))
    # alphabet indices so fold elements stay LIST<BIGINT>
    idx = ("transform({seq}, s -> cast(array_position("
           "array_sort(array_distinct(concat(a, b))), s) as bigint))")
    nw = f"""
  aggregate(
    transform({idx.format(seq='a')}, s -> array(s)),
    transform(sequence(0, size(b)), j -> cast(-j as bigint)),
    (acc, e) -> aggregate(
        transform(sequence(1, size(b)), j ->
            array(cast(j as bigint),
                  element_at({idx.format(seq='b')}, j))),
        array(element_at(acc, 1) - 1),
        (a2, e2) -> concat(a2, array(greatest(
            element_at(acc, cast(element_at(e2, 1) as int))
              + (CASE WHEN element_at(e2, 2) = element_at(e, 1)
                      THEN {_NW_MATCH} ELSE {_NW_MISS} END),
            element_at(acc, cast(element_at(e2, 1) as int) + 1)
              + {_NW_GAP},
            element_at(a2, size(a2)) + {_NW_GAP})))))
"""
    return packed.select(
        F.size("a").alias("len_a"), F.size("b").alias("len_b"),
        F.expr(f"element_at({nw}, size(b) + 1)").alias("nw_score")
    ).select(
        "len_a", "len_b", "nw_score",
        (F.col("nw_score") >= 0).cast("int").alias("aligned"))


def _nw_sql() -> str:
    idx = ("list_transform({seq}, s -> CAST(list_position("
           "list_sort(list_distinct(a || b)), s) AS BIGINT))")
    return f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {_DAY_US} AS day FROM events
), d0 AS (SELECT min(day) AS d0 FROM ev),
counts AS (
  SELECT ev.day - d0.d0 AS d, event_type, CAST(count(*) AS BIGINT) AS cnt
  FROM ev, d0 GROUP BY 1, 2
), dom AS (
  SELECT d, min(struct_pack(nc := -cnt, t := event_type)).t AS t
  FROM counts GROUP BY d
), packed AS (
  SELECT list_transform(list_filter(list(struct_pack(d := d, t := t)
                                         ORDER BY d),
                                    s -> s.d < {_NW_SPLIT}), s -> s.t) AS a,
         list_transform(list_filter(list(struct_pack(d := d, t := t)
                                         ORDER BY d),
                                    s -> s.d >= {_NW_SPLIT}), s -> s.t) AS b
  FROM dom
)
SELECT CAST(len(a) AS INT) AS len_a, CAST(len(b) AS INT) AS len_b,
       (list_reduce(
          list_prepend(
            list_transform(range(0, len(b) + 1), j -> CAST(-j AS BIGINT)),
            list_transform({idx.format(seq='a')}, s -> [s])),
          (acc, e) -> list_reduce(
              list_prepend([acc[1] - 1],
                  list_transform(range(1, len(b) + 1),
                      j -> [CAST(j AS BIGINT),
                            ({idx.format(seq='b')})[j]])),
              (a2, e2) -> a2 || [greatest(
                  acc[CAST(e2[1] AS INT)]
                    + (CASE WHEN e2[2] = e[1]
                            THEN {_NW_MATCH} ELSE {_NW_MISS} END),
                  acc[CAST(e2[1] AS INT) + 1] + {_NW_GAP},
                  a2[len(a2)] + {_NW_GAP})]))
       )[len(b) + 1] AS nw_score,
       CAST(CASE WHEN (list_reduce(
          list_prepend(
            list_transform(range(0, len(b) + 1), j -> CAST(-j AS BIGINT)),
            list_transform({idx.format(seq='a')}, s -> [s])),
          (acc, e) -> list_reduce(
              list_prepend([acc[1] - 1],
                  list_transform(range(1, len(b) + 1),
                      j -> [CAST(j AS BIGINT),
                            ({idx.format(seq='b')})[j]])),
              (a2, e2) -> a2 || [greatest(
                  acc[CAST(e2[1] AS INT)]
                    + (CASE WHEN e2[2] = e[1]
                            THEN {_NW_MATCH} ELSE {_NW_MISS} END),
                  acc[CAST(e2[1] AS INT) + 1] + {_NW_GAP},
                  a2[len(a2)] + {_NW_GAP})]))
       )[len(b) + 1] >= 0 THEN 1 ELSE 0 END AS INT) AS aligned
FROM packed
"""


QUERIES["needleman_wunsch_daily"] = (_nw_alignment, _nw_sql())


# ---------------------------------------------------------------------------
# Partial autocorrelation (Durbin-Levinson, lags 1-3) of daily volume
# ---------------------------------------------------------------------------

def _pacf_durbin_levinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the global daily event volume at
    lags 1–3 via the Durbin–Levinson recursion — the AR-order
    diagnostic that separates direct lag effects from ones the
    ``acf_daily_events`` twin merely propagates. Deviations are
    EXACT integers scaled by T (d_t = T·y_t − Σy), so every r_k is a
    ratio of exact int64 products; the three-step recursion is then
    closed-form double arithmetic written token-identically in both
    engines (mul/div only — no libm).

    Scale: one daily aggregate, three lag columns over the
    calendar-bounded spine (aggregate-fed window), a 1-row readout
    exploded to 3 lag rows. Headroom: Σ d·d ≤ T³·max(y)² — int64 to
    ~3·10⁴ days at 10⁶ events/day.
    """
    daily = _hw_daily_spine(spark, sf_dir)
    tot = daily.agg(F.count(F.lit(1)).alias("t"), F.sum("y").alias("s"))
    dev = (daily.crossJoin(F.broadcast(tot))
           .select("d", (F.col("t") * F.col("y") - F.col("s")).alias("dv")))
    from pyspark.sql import Window
    w = Window.orderBy("d")
    lagged = dev.select(
        "dv",
        F.lag("dv", 1).over(w).alias("l1"),
        F.lag("dv", 2).over(w).alias("l2"),
        F.lag("dv", 3).over(w).alias("l3"))
    mom = lagged.agg(
        F.sum(F.col("dv") * F.col("dv")).alias("c0"),
        F.sum(F.col("dv") * F.col("l1")).alias("c1"),
        F.sum(F.col("dv") * F.col("l2")).alias("c2"),
        F.sum(F.col("dv") * F.col("l3")).alias("c3"))
    r1 = F.col("c1").cast("double") / F.col("c0").cast("double")
    r2 = F.col("c2").cast("double") / F.col("c0").cast("double")
    r3 = F.col("c3").cast("double") / F.col("c0").cast("double")
    p1 = r1
    v1 = F.lit(1.0) - r1 * r1
    p2 = (r2 - r1 * r1) / v1
    p21 = r1 - p2 * r1
    v2 = v1 * (F.lit(1.0) - p2 * p2)
    p3 = (r3 - p21 * r2 - p2 * r1) / v2
    out = mom.select(
        F.array(F.floor(F.lit(1e6) * p1), F.floor(F.lit(1e6) * p2),
                F.floor(F.lit(1e6) * p3)).alias("ps"))
    return (out.select(F.posexplode("ps").alias("lag0", "pacf_e6"))
            .select((F.col("lag0") + 1).cast("int").alias("lag"),
                    F.col("pacf_e6").cast("long").alias("pacf_e6")))


_PACF_SQL = f"""
WITH counts AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), span AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM counts
), spine AS (
  SELECT CAST(u.d AS BIGINT) AS d,
         COALESCE((SELECT c.x FROM counts c, span s
                   WHERE c.day = u.d + s.d0), 0) AS y
  FROM span sp, unnest(range(0, sp.d1 - sp.d0 + 1)) AS u(d)
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS t, CAST(sum(y) AS BIGINT) AS s
  FROM spine
), dev AS (
  SELECT d, tot.t * y - tot.s AS dv FROM spine, tot
), lagged AS (
  SELECT dv, lag(dv, 1) OVER (ORDER BY d) AS l1,
         lag(dv, 2) OVER (ORDER BY d) AS l2,
         lag(dv, 3) OVER (ORDER BY d) AS l3
  FROM dev
), mom AS (
  SELECT CAST(sum(dv * dv) AS BIGINT) AS c0,
         CAST(sum(dv * l1) AS BIGINT) AS c1,
         CAST(sum(dv * l2) AS BIGINT) AS c2,
         CAST(sum(dv * l3) AS BIGINT) AS c3
  FROM lagged
), rs AS (
  SELECT CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1,
         CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2,
         CAST(c3 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r3
  FROM mom
), ps AS (
  SELECT [floor(1000000.0 * r1),
          floor(1000000.0 * ((r2 - r1 * r1) / (1.0 - r1 * r1))),
          floor(1000000.0 * ((r3 - (r1 - ((r2 - r1 * r1)
                                          / (1.0 - r1 * r1)) * r1) * r2
                              - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
                             / ((1.0 - r1 * r1)
                                * (1.0 - ((r2 - r1 * r1)
                                          / (1.0 - r1 * r1))
                                       * ((r2 - r1 * r1)
                                          / (1.0 - r1 * r1))))))
         ] AS arr
  FROM rs
)
SELECT CAST(u.i AS INT) AS lag, CAST(arr[u.i] AS BIGINT) AS pacf_e6
FROM ps, unnest(range(1, 4)) AS u(i)
"""

QUERIES["pacf_durbin_levinson"] = (_pacf_durbin_levinson, _PACF_SQL)


# ---------------------------------------------------------------------------
# Forecast bakeoff on a 7-day holdout (seasonal naive / mean / drift)
# ---------------------------------------------------------------------------
_BAKE_H = 7


def _forecast_model_bakeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-selection bakeoff: hold out the final {_BAKE_H} days of
    the global daily volume and score three zero-parameter forecasters
    on integer MAE — seasonal naive (y[d−7]), train mean, and drift
    (last train value + h·slope) — the sanity race every forecasting
    effort should run before anything fancier (``holt_linear``,
    ``holt_winters_additive``, ``croston``) is trusted. Every
    prediction and error is exact int64 (means/slopes are truncating
    divs), so the ranking is bit-identical cross-engine.

    Scale: the corpus reduces to the calendar-bounded day spine once;
    the bakeoff runs on a 1-row array frame exploded to 3×{_BAKE_H}
    scored cells.
    """
    packed = (_hw_daily_spine(spark, sf_dir)
              .groupBy()
              .agg(F.expr("transform(array_sort(collect_list("
                          "struct(d, y))), s -> s.y)").alias("ys")))
    t = F.size("ys")
    base = packed.select(
        "ys", t.alias("t"), (t - _BAKE_H).alias("n_train"))
    cells = (base
             .select("*", F.explode(F.sequence(F.lit(1),
                                               F.lit(_BAKE_H)))
                     .alias("h"))
             .select(
                 "h", "t", "n_train",
                 F.expr("element_at(ys, cast(n_train + h as int))")
                 .alias("actual"),
                 F.expr("element_at(ys, cast(n_train + h - 7 as int))")
                 .alias("p_seasonal"),
                 F.expr("aggregate(slice(ys, 1, cast(n_train as int)),"
                        " cast(0 as bigint), (a, x) -> a + x)"
                        " div n_train").alias("p_mean"),
                 F.expr("element_at(ys, cast(n_train as int))"
                        " + h * ((element_at(ys, cast(n_train as int))"
                        " - element_at(ys, 1)) div (n_train - 1))")
                 .alias("p_drift")))
    out = None
    for model, col in (("seasonal_naive", "p_seasonal"),
                       ("train_mean", "p_mean"),
                       ("drift", "p_drift")):
        m = cells.agg(
            F.lit(model).alias("model"),
            F.sum(F.abs(F.col("actual") - F.col(col)))
            .alias("abs_err_sum"),
            F.count(F.lit(1)).alias("h_days"))
        out = m if out is None else out.unionAll(m)
    return out.select(
        "model", "abs_err_sum", "h_days",
        F.expr("(1000000 * abs_err_sum) div h_days").alias("mae_e6"))


def _bakeoff_sql() -> str:
    preds = {
        "seasonal_naive": "ys[CAST(n_train + h AS INT) - 7]",
        "train_mean": ("list_reduce(list_prepend(0::BIGINT,"
                       " list_slice(ys, 1, CAST(n_train AS INT))),"
                       " (a, x) -> a + x) // n_train"),
        "drift": ("ys[CAST(n_train AS INT)] + h *"
                  " ((ys[CAST(n_train AS INT)] - ys[1])"
                  " // (n_train - 1))"),
    }
    parts = " UNION ALL ".join(
        f"""SELECT '{model}' AS model,
       CAST(sum(abs(ys[CAST(n_train + h AS INT)] - ({p}))) AS BIGINT)
           AS abs_err_sum,
       CAST(count(*) AS BIGINT) AS h_days
FROM cells GROUP BY 1"""
        for model, p in preds.items())
    return f"""
WITH counts AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day, CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), span AS (
  SELECT min(day) AS d0, max(day) AS d1 FROM counts
), spine AS (
  SELECT CAST(u.d AS BIGINT) AS d,
         COALESCE((SELECT c.x FROM counts c, span s
                   WHERE c.day = u.d + s.d0), 0) AS y
  FROM span sp, unnest(range(0, sp.d1 - sp.d0 + 1)) AS u(d)
), packed AS (
  SELECT list(y ORDER BY d) AS ys FROM spine
), cells AS (
  SELECT ys, len(ys)::BIGINT AS t, len(ys)::BIGINT - {_BAKE_H} AS n_train,
         CAST(u.h AS BIGINT) AS h
  FROM packed, unnest(range(1, {_BAKE_H} + 1)) AS u(h)
)
SELECT model, abs_err_sum, h_days,
       (1000000 * abs_err_sum) // h_days AS mae_e6
FROM ({parts})
"""


QUERIES["forecast_model_bakeoff"] = (_forecast_model_bakeoff,
                                     _bakeoff_sql())


# ---------------------------------------------------------------------------
# theta_method_forecast (round 9)
# ---------------------------------------------------------------------------
_TH_H = 7          # forecast horizon (days)
_TH_ALPHA_DEN = 5  # SES alpha = 1/5


def _theta_method_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast (the M3-competition winner, in its
    classic two-line form) of the daily MEAN event value: the θ=0
    line is the exact-integer least-squares trend over day indices
    (scale-invariant: daily means stay bounded at any corpus size);
    the θ=2 line (2y − trend) is smoothed by SES with α=1/{_TH_ALPHA_DEN}
    as an integer e3 fold (s ← s + (y₂−s) div {_TH_ALPHA_DEN}, single
    LIST accumulator); the h-step forecast is the average of the
    extrapolated trend and the SES level. Output: h = 1..{_TH_H} rows.

    Determinism: the regression is exact integer normal equations
    (indices ≤ span days, means ≤ value range — int64 headroom at any
    sf); the trend evaluates as a two-term integer rational with one
    final division; the fold is signed integer truncation (matches
    across engines, measured r8).

    Scale: one keyed shuffle to the calendar-bounded day table; the
    regression is a 1-row aggregate; the fold runs over the bounded
    day spine fed by an aggregate (passes the bounded-feeder gate).
    """
    day = (load(spark, sf_dir, "events")
           .select(F.expr("unix_micros(cast(ts as timestamp))"
                          " div 86400000000").alias("d"),
                   F.expr("cast(round(value * 100, 0) as bigint)")
                    .alias("c"))
           .groupBy("d")
           .agg(F.expr("sum(c) div count(1)").alias("y")))
    base = day.agg(F.min("d").alias("d0"))
    idx = (day.crossJoin(F.broadcast(base))
           .select((F.col("d") - F.col("d0")).alias("x"), "y"))
    reg = idx.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
        F.sum("y").alias("sy"), F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"), F.max("x").alias("tmax"))
    # trend_e3(t) = 1000*(intercept + slope*t) as ONE integer rational:
    # ((sy*sxx - sx*sxy) + (n*sxy - sx*sy)*t) * 1000 div (n*sxx - sx*sx)
    tr = ("(((sy * sxx - sx * sxy) + (n * sxy - sx * sy) * {t})"
          " * 1000) div (n * sxx - sx * sx)")
    y2 = (idx.crossJoin(F.broadcast(reg))
          .select("x", F.expr("2000 * y - " + tr.format(t="x"))
                  .alias("y2")))
    fold = f"""
      aggregate(
        sort_array(collect_list(struct(x, y2))),
        array(cast(0 as bigint), cast(0 as bigint)),
        (acc, e) -> CASE WHEN acc[0] = 0
          THEN array(cast(1 as bigint), e.y2)
          ELSE array(cast(1 as bigint),
                     acc[1] + (e.y2 - acc[1]) div {_TH_ALPHA_DEN})
          END)
    """
    ses = y2.agg(F.expr(fold).alias("s")).select(
        F.expr("s[1]").alias("ses_e3"))
    return (spark.range(1, _TH_H + 1).select(F.col("id").alias("h"))
            .crossJoin(F.broadcast(reg)).crossJoin(F.broadcast(ses))
            .select("h",
                    F.expr(tr.format(t="(tmax + h)")).alias("trend_e3"),
                    "ses_e3",
                    F.expr("(" + tr.format(t="(tmax + h)")
                           + " + ses_e3) div 2").alias("forecast_e3")))


def _theta_sql() -> str:
    tr = ("(((sy * sxx - sx * sxy) + (n * sxy - sx * sy) * {t})"
          " * 1000) // (n * sxx - sx * sx)")
    return f"""
WITH day AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           // count(*) AS y
  FROM events GROUP BY 1
),
idx AS (
  SELECT d - (SELECT min(d) FROM day) AS x, y FROM day
),
reg AS (
  SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         max(x) AS tmax
  FROM idx
),
y2 AS (
  SELECT i.x, 2000 * i.y - {tr.format(t="i.x")} AS y2
  FROM idx i, reg
),
ses AS (
  SELECT list_reduce(
           list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                        list([CAST(x AS BIGINT), y2] ORDER BY x)),
           (acc, e) -> CASE WHEN acc[1] = 0
             THEN [CAST(1 AS BIGINT), e[2]]
             ELSE [CAST(1 AS BIGINT),
                   acc[2] + (e[2] - acc[2]) // {_TH_ALPHA_DEN}]
             END)[2] AS ses_e3
  FROM y2
)
SELECT CAST(h AS BIGINT) AS h,
       {tr.format(t="(tmax + h)")} AS trend_e3,
       ses_e3,
       ({tr.format(t="(tmax + h)")} + ses_e3) // 2 AS forecast_e3
FROM (SELECT unnest(range(1, {_TH_H + 1})) AS h) hh, reg, ses
"""


QUERIES["theta_method_forecast"] = (_theta_method_forecast, _theta_sql())
