"""Round-7 statistical-inference / robustness / privacy queries.

Extends the testing-and-monitoring stack (ks/chi2/anova/logrank/
permutation/fdr/wasserstein…) with the remaining standard instruments
an experimentation + data-governance platform runs:

- ``ljung_box_autocorr_test``   — portmanteau white-noise test on the
  daily event-count series (the residual-diagnostics gate every
  forecast model runs).
- ``cvm_two_sample_test``       — Cramér–von Mises two-sample test
  between event-type value distributions (integral-distance cousin of
  the existing KS twin; more sensitive in the tails' middle).
- ``holm_bonferroni_correction``— step-DOWN FWER control over per-type
  permutation p-values (the conservative sibling of the existing BH
  step-up FDR twin).
- ``quantile_treatment_effect`` — decile-wise treatment effects
  between two event arms (the distributional complement of the
  existing mean-effect estimators).
- ``nelson_aalen_hazard``       — cumulative-hazard estimator over the
  customer-churn lifetimes (the hazard-scale twin of Kaplan–Meier).
- ``huber_location_fixed_point``— robust per-type location via K
  clipped-residual fixed-point rounds (kmeans-style unrolled
  iteration, all integer cents).
- ``page_hinkley_drift``        — sequential mean-drift detector per
  event type over the daily series (the streaming cousin of CUSUM).
- ``dp_quantile_histogram``     — DP quantile release by noised-
  histogram CDF inversion (reuses dp_noised_counts' derived-noise
  mechanism).
- ``t_closeness_audit``         — total-variation distance between
  each quasi-ID class's sensitive distribution and the global one
  (the release gate k-anonymity/l-diversity don't cover).

Determinism: everything is exact int64 / e6 fixed-point except the
DP Laplace noise (the dp_noised_counts convention: identical ln of a
seeded md5 uniform in both engines). NOTE (corrected round 8): Spark's
integer `div` and DuckDB's integer `//` BOTH truncate toward zero
(verified: -7 div 2 == -7 // 2 == -3), so bare integer division is
engine-identical for any sign. The `_sdiv` wrapper below is therefore
a no-op clarity device (truncation is already sign-symmetric), kept
because existing oracles embed it; new code can use plain div.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load, persist

QUERIES: dict = {}


DAY_US = 86_400_000_000


def _sdiv(num: str, den: str) -> str:
    """Sign-symmetric truncating integer division (SQL text, valid in
    BOTH engines): |num| div den, negated back. NOTE: measurement in
    round 8 showed plain `div`/`//` already truncate identically in
    both engines, so this wrapper is equivalent to a bare div — kept
    only because existing oracles embed the expanded text."""
    return (f"(CASE WHEN ({num}) < 0"
            f" THEN -((-({num})) div ({den}))"
            f" ELSE ({num}) div ({den}) END)")


def _sdiv_duck(num: str, den: str) -> str:
    return (f"(CASE WHEN ({num}) < 0"
            f" THEN -((-({num})) // ({den}))"
            f" ELSE ({num}) // ({den}) END)")


# --------------------------------------------------------------------------
# ljung_box_autocorr_test: portmanteau white-noise test on daily counts
# --------------------------------------------------------------------------
LB_MAX_LAG = 7
# chi2 upper critical values at alpha=0.05 for df=1..7, e6 literals
_CHI2_CRIT_E6 = {1: 3_841_459, 2: 5_991_465, 3: 7_814_728, 4: 9_487_729,
                 5: 11_070_498, 6: 12_591_587, 7: 14_067_140}


def _ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q test on the daily total-event-count series: per lag
    k = 1..{LB_MAX_LAG}, the autocorrelation rho_k and the cumulative
    Q statistic n(n+2)·Σ_{{j<=k}} rho_j²/(n−j), decided against the
    chi2(k) 5% critical value — the white-noise gate run on forecast
    residuals and on "is traffic seasonal at all" questions.

    Determinism: the series is the CONTIGUOUS day spine (missing days
    count 0, spine from min/max day — no wall clock). rho_k is the
    exact integer cross-product ratio Σ(n·x_t−S)(n·x_{{t+k}}−S) /
    Σ(n·x_t−S)² quantized to e6 with sign-symmetric truncation (the
    numerator CAN be negative); Q accumulates integer terms only.

    Scale: one map-side-combined day aggregation (|days| rows);
    everything after — spine, lag joins, the cumulative — runs on that
    bounded day-cardinality frame (broadcast joins, tiny windows).
    Int64 headroom: n·x_t needs n·max_daily_count < 3e9 per square —
    holds through ~1e5 days × 1e4 events/day; beyond, rescale x to
    thousands first.
    """
    ev = load(spark, sf_dir, "events").select(
        F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}")
        .alias("day"))
    counts = ev.groupBy("day").agg(F.count(F.lit(1)).alias("x"))
    span = counts.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = (span.select(F.explode(F.sequence("lo", "hi")).alias("day"))
             .join(counts, "day", "left")
             .select("day", F.coalesce("x", F.lit(0)).alias("x")))
    tot = spine.agg(F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"))
    cent = (spine.crossJoin(F.broadcast(tot))
            .select("day", "n", (F.col("n") * F.col("x") - F.col("s"))
                    .alias("c")))
    den = cent.agg(F.sum(F.col("c") * F.col("c")).alias("den"),
                   F.max("n").alias("n"))
    ks = spark.range(1, LB_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = cent.select("day", F.col("c").alias("ca"))
    b = cent.select(F.col("day").alias("day_b"), F.col("c").alias("cb"))
    nums = (a.crossJoin(F.broadcast(ks))
            .join(b, F.col("day_b") == F.col("day") + F.col("lag"))
            .groupBy("lag")
            .agg(F.sum(F.col("ca") * F.col("cb")).alias("num")))
    rho = (nums.crossJoin(F.broadcast(den))
           .select("lag", "n",
                   F.expr(_sdiv("1000000 * num", "den")).alias("rho_e6")))
    wcum = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    crit = "CASE lag " + " ".join(
        f"WHEN {df} THEN {v}" for df, v in _CHI2_CRIT_E6.items()) + " END"
    return (rho
            .withColumn("term", F.expr("(rho_e6 * rho_e6) div (n - lag)"))
            .withColumn("cum", F.sum("term").over(wcum))
            .select("lag", "rho_e6",
                    F.expr("(n * (n + 2) * cum) div 1000000")
                    .alias("q_e6"),
                    F.expr(f"(n * (n + 2) * cum) div 1000000"
                           f" > {crit}").alias("rejected")))


def _lb_sql() -> str:
    crit = "CASE lag " + " ".join(
        f"WHEN {df} THEN {v}" for df, v in _CHI2_CRIT_E6.items()) + " END"
    return f"""
WITH counts AS (
    SELECT epoch_us(ts) // {DAY_US} AS day,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
span AS (SELECT min(day) AS lo, max(day) AS hi FROM counts),
spine AS (
    SELECT s.day, CAST(coalesce(c.x, 0) AS BIGINT) AS x
    FROM (SELECT unnest(range(lo, hi + 1)) AS day FROM span) s
    LEFT JOIN counts c USING (day)
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s FROM spine),
cent AS (
    SELECT day, n, n * x - s AS c FROM spine CROSS JOIN tot
),
den AS (SELECT CAST(sum(c * c) AS BIGINT) AS den,
               max(n) AS n FROM cent),
ks AS (SELECT unnest(range(1, {LB_MAX_LAG + 1})) AS lag),
nums AS (
    SELECT k.lag, CAST(sum(a.c * b.c) AS BIGINT) AS num
    FROM cent a CROSS JOIN ks k
    JOIN cent b ON b.day = a.day + k.lag
    GROUP BY 1
),
rho AS (
    SELECT lag, d.n, {_sdiv_duck("1000000 * num", "den")} AS rho_e6
    FROM nums CROSS JOIN den d
),
walked AS (
    SELECT lag, rho_e6, n,
           CAST(sum((rho_e6 * rho_e6) // (n - lag))
                OVER (ORDER BY lag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
    FROM rho
)
SELECT lag, rho_e6,
       (n * (n + 2) * cum) // 1000000 AS q_e6,
       (n * (n + 2) * cum) // 1000000 > {crit} AS rejected
FROM walked
"""


QUERIES["ljung_box_autocorr_test"] = (_ljung_box, _lb_sql())


# --------------------------------------------------------------------------
# cvm_two_sample_test: Cramér–von Mises between two event arms
# --------------------------------------------------------------------------
CVM_ARM_A, CVM_ARM_B = "click", "view"
CVM_CRIT_E6 = 461_000  # omega^2 5% asymptotic critical value


def _cvm_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete Cramér–von Mises two-sample statistic between the
    `click` and `view` value distributions: omega² = Σ_z p_z·(F_n(z) −
    G_m(z))² over the pooled support — the ECDF-integral distance that
    complements the existing KS (sup-distance) and Wasserstein
    (area-distance) twins.

    Determinism: values quantize to exact cents; ECDF differences
    quantize to e3 with sign-symmetric truncation BEFORE squaring (the
    difference can be negative; squares of symmetric truncations are
    engine-identical), and the weighted sum is integer. Ties need no
    tie-break at all — the statistic is a pure function of the two
    ECDFs over distinct cent values.

    Scale: one aggregation to the distinct-cents run table (bounded by
    the value domain, ~5e4 rows max); the cumulative ECDFs are windows
    over that run table, never over events.
    """
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_type").isin(CVM_ARM_A, CVM_ARM_B))
          .select(F.col("event_type").alias("arm"),
                  F.expr("cast(round(value * 100, 0) as bigint)")
                  .alias("cents")))
    runs = (ev.groupBy("cents")
            .agg(F.sum(F.when(F.col("arm") == CVM_ARM_A, 1).otherwise(0))
                 .alias("na"),
                 F.sum(F.when(F.col("arm") == CVM_ARM_B, 1).otherwise(0))
                 .alias("nb")))
    wcum = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    walked = runs.select(
        "cents", (F.col("na") + F.col("nb")).alias("t"),
        F.sum("na").over(wcum).alias("cum_a"),
        F.sum("nb").over(wcum).alias("cum_b"),
        F.sum("na").over(wall).alias("n"),
        F.sum("nb").over(wall).alias("m"))
    d_e3 = _sdiv("1000 * (m * cum_a - n * cum_b)", "n * m")
    return (walked
            .select("n", "m",
                    (F.col("t") * F.expr(d_e3) * F.expr(d_e3))
                    .alias("wterm"))
            .groupBy("n", "m")
            .agg(F.sum("wterm").alias("wsum"))
            .select(F.col("n").cast("long").alias("n_a"),
                    F.col("m").cast("long").alias("n_b"),
                    F.expr("wsum div (n + m)").alias("cvm_e6"),
                    F.expr(f"wsum div (n + m) > {CVM_CRIT_E6}")
                    .alias("rejected")))


def _cvm_sql() -> str:
    d_e3 = _sdiv_duck("1000 * (m * cum_a - n * cum_b)", "n * m")
    return f"""
WITH ev AS (
    SELECT event_type AS arm,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('{CVM_ARM_A}', '{CVM_ARM_B}')
),
runs AS (
    SELECT cents,
           CAST(sum(CASE WHEN arm = '{CVM_ARM_A}' THEN 1 ELSE 0 END)
                AS BIGINT) AS na,
           CAST(sum(CASE WHEN arm = '{CVM_ARM_B}' THEN 1 ELSE 0 END)
                AS BIGINT) AS nb
    FROM ev GROUP BY cents
),
walked AS (
    SELECT cents, na + nb AS t,
           CAST(sum(na) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_a,
           CAST(sum(nb) OVER (ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_b,
           CAST(sum(na) OVER () AS BIGINT) AS n,
           CAST(sum(nb) OVER () AS BIGINT) AS m
    FROM runs
)
SELECT n AS n_a, m AS n_b,
       CAST(sum(t * {d_e3} * {d_e3}) AS BIGINT) // (n + m) AS cvm_e6,
       CAST(sum(t * {d_e3} * {d_e3}) AS BIGINT) // (n + m)
           > {CVM_CRIT_E6} AS rejected
FROM walked
GROUP BY n, m
"""


QUERIES["cvm_two_sample_test"] = (_cvm_two_sample, _cvm_sql())


# --------------------------------------------------------------------------
# quantile_treatment_effect: decile-wise effects between two arms
# --------------------------------------------------------------------------
QTE_TREAT, QTE_CTRL = "click", "view"


def _qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: per decile d = 1..9, the exact
    order-statistic quantile of the treatment arm's value minus the
    control arm's — the distributional readout (did the effect come
    from the median moving, or only the tail?) that the existing mean
    estimators (DiD, CUPED, stratified ATT) can't show.

    Determinism: quantile = smallest cents value whose cumulative
    count reaches k_d = ceil(n·d/10) (type-1 order statistic, computed
    as (n·d+9) div 10 in both engines); struct-min picks it exactly.

    Scale: both arms reduce to distinct-cents run tables (bounded by
    the value domain); the decile probe is a broadcast join of 9 rows
    against each run table's cumulative walk.
    """
    ev = (load(spark, sf_dir, "events")
          .where(F.col("event_type").isin(QTE_TREAT, QTE_CTRL))
          .select(F.col("event_type").alias("arm"),
                  F.expr("cast(round(value * 100, 0) as bigint)")
                  .alias("cents")))
    runs = ev.groupBy("arm", "cents").agg(F.count(F.lit(1)).alias("c"))
    warm = Window.partitionBy("arm").orderBy("cents") \
        .rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.partitionBy("arm")
    walked = runs.select(
        "arm", "cents",
        F.sum("c").over(warm).alias("cum"),
        F.sum("c").over(wtot).alias("n"))
    ds = spark.range(1, 10).select(F.col("id").alias("d"))
    hit = (walked.crossJoin(F.broadcast(ds))
           .where(F.col("cum") >= F.expr("(n * d + 9) div 10"))
           .groupBy("arm", "d")
           .agg(F.min(F.struct(F.col("cents").alias("q"),
                               F.col("n").alias("n"))).alias("b")))
    t = hit.where(F.col("arm") == QTE_TREAT).select(
        "d", F.col("b.q").alias("q_treat_c"), F.col("b.n").alias("n_treat"))
    c = hit.where(F.col("arm") == QTE_CTRL).select(
        "d", F.col("b.q").alias("q_ctrl_c"), F.col("b.n").alias("n_ctrl"))
    return (t.join(c, "d")
            .select(F.col("d").cast("int").alias("decile"),
                    "n_treat", "n_ctrl", "q_treat_c", "q_ctrl_c",
                    (F.col("q_treat_c") - F.col("q_ctrl_c"))
                    .alias("qte_cents")))


_QTE_SQL = f"""
WITH ev AS (
    SELECT event_type AS arm,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events WHERE event_type IN ('{QTE_TREAT}', '{QTE_CTRL}')
),
runs AS (
    SELECT arm, cents, CAST(count(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
),
walked AS (
    SELECT arm, cents,
           CAST(sum(c) OVER (PARTITION BY arm ORDER BY cents
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(sum(c) OVER (PARTITION BY arm) AS BIGINT) AS n
    FROM runs
),
ds AS (SELECT unnest(range(1, 10)) AS d),
hit AS (
    SELECT arm, d,
           min(struct_pack(q := cents, n := n)) AS b
    FROM walked CROSS JOIN ds
    WHERE cum >= (n * d + 9) // 10
    GROUP BY 1, 2
)
SELECT CAST(t.d AS INT) AS decile,
       (t.b).n AS n_treat, (c.b).n AS n_ctrl,
       (t.b).q AS q_treat_c, (c.b).q AS q_ctrl_c,
       (t.b).q - (c.b).q AS qte_cents
FROM hit t JOIN hit c ON t.d = c.d
WHERE t.arm = '{QTE_TREAT}' AND c.arm = '{QTE_CTRL}'
"""

QUERIES["quantile_treatment_effect"] = (_qte, _QTE_SQL)


# --------------------------------------------------------------------------
# t_closeness_audit: sensitive-distribution distance per QI class
# --------------------------------------------------------------------------
T_CLOSE_E6 = 350_000  # t threshold


def _t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness release audit: per quasi-identifier class (the
    k_anonymity_audit QI — nation × market segment × balance decile),
    the total-variation distance between the class's sensitive-
    attribute distribution (order priority) and the global one.
    k-anonymity/l-diversity pass classes whose sensitive values are
    merely NUMEROUS; t-closeness catches classes whose distribution
    still leaks (e.g. 90% URGENT where the corpus is 20%).

    Determinism: TVD = Σ_s |n_cs·N − n_s·N_c| / (2·N_c·N) — all-
    integer numerator (abs before any division), single e6 division
    at the end. The class × sensitive-domain expansion uses a
    broadcast cross join against the bounded sensitive domain so
    absent-in-class values contribute their full global mass.

    Scale: one customers⋈orders keyed join, aggregates bounded by
    |QI domain| × |sensitive domain| (25·5·10 × 5); report-sized
    everything after.
    """
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"))
    lo, hi = -100_000, 1_000_000  # fixed exact bounds (k_anonymity twin)
    decile = F.least(F.lit(9), ((F.col("bal_c") - lo) * 10 / (hi - lo))
                     .cast("long"))
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority")
    j = (cust.select("c_custkey", "c_nationkey", "c_mktsegment",
                     decile.alias("bal_decile"))
         .join(orders, F.col("c_custkey") == F.col("o_custkey")))
    cls = (j.groupBy("c_nationkey", "c_mktsegment", "bal_decile",
                     "o_orderpriority")
           .agg(F.count(F.lit(1)).alias("n_cs")))
    class_tot = (cls.groupBy("c_nationkey", "c_mktsegment", "bal_decile")
                 .agg(F.sum("n_cs").alias("n_c")))
    glob = cls.groupBy("o_orderpriority").agg(F.sum("n_cs").alias("n_s"))
    tot = glob.agg(F.sum("n_s").alias("nn"))
    expanded = (class_tot.crossJoin(F.broadcast(glob))
                .join(cls, ["c_nationkey", "c_mktsegment", "bal_decile",
                            "o_orderpriority"], "left")
                .crossJoin(F.broadcast(tot))
                .select("c_nationkey", "c_mktsegment", "bal_decile",
                        "n_c", "nn",
                        F.abs(F.coalesce("n_cs", F.lit(0)) * F.col("nn")
                              - F.col("n_s") * F.col("n_c"))
                        .alias("dev")))
    return (expanded
            .groupBy("c_nationkey", "c_mktsegment", "bal_decile")
            .agg(F.max("n_c").alias("class_size"),
                 F.expr("1000000 * sum(dev) div (2 * max(n_c) * max(nn))")
                 .alias("tvd_e6"))
            .select("c_nationkey", "c_mktsegment",
                    F.col("bal_decile").cast("long").alias("bal_decile"),
                    F.col("class_size").cast("long").alias("class_size"),
                    "tvd_e6",
                    (F.col("tvd_e6") <= T_CLOSE_E6).alias("t_close_ok")))


_TCLOSE_SQL = f"""
WITH cust AS (
    SELECT c_custkey, c_nationkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer
),
j AS (
    SELECT c.c_custkey, c.c_nationkey, c.c_mktsegment,
           least(9, (c.bal_c - (-100000)) * 10
                    // (1000000 - (-100000))) AS bal_decile,
           o.o_orderpriority
    FROM cust c JOIN orders o ON c.c_custkey = o.o_custkey
),
cls AS (
    SELECT c_nationkey, c_mktsegment, bal_decile, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_cs
    FROM j GROUP BY 1, 2, 3, 4
),
class_tot AS (
    SELECT c_nationkey, c_mktsegment, bal_decile,
           CAST(sum(n_cs) AS BIGINT) AS n_c
    FROM cls GROUP BY 1, 2, 3
),
gdist AS (SELECT o_orderpriority, CAST(sum(n_cs) AS BIGINT) AS n_s
         FROM cls GROUP BY 1),
tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS nn FROM gdist),
expanded AS (
    SELECT ct.c_nationkey, ct.c_mktsegment, ct.bal_decile,
           ct.n_c, t.nn,
           abs(coalesce(cl.n_cs, 0) * t.nn - g.n_s * ct.n_c) AS dev
    FROM class_tot ct
    CROSS JOIN gdist g
    LEFT JOIN cls cl ON cl.c_nationkey = ct.c_nationkey
        AND cl.c_mktsegment = ct.c_mktsegment
        AND cl.bal_decile = ct.bal_decile
        AND cl.o_orderpriority = g.o_orderpriority
    CROSS JOIN tot t
)
SELECT c_nationkey, c_mktsegment, bal_decile,
       CAST(max(n_c) AS BIGINT) AS class_size,
       1000000 * CAST(sum(dev) AS BIGINT)
           // (2 * max(n_c) * max(nn)) AS tvd_e6,
       1000000 * CAST(sum(dev) AS BIGINT)
           // (2 * max(n_c) * max(nn)) <= {T_CLOSE_E6} AS t_close_ok
FROM expanded
GROUP BY 1, 2, 3
"""

QUERIES["t_closeness_audit"] = (_t_closeness, _TCLOSE_SQL)

# --------------------------------------------------------------------------
# holm_bonferroni_correction: step-down FWER over permutation p-values
# --------------------------------------------------------------------------
_HOLM_K = 99                   # day-label permutations
_HOLM_Q_NUM, _HOLM_Q_DEN = 1, 20   # alpha = 0.05


def _holm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-DOWN familywise-error control over one permutation
    p-value per event type — the conservative sibling of the existing
    BH step-up FDR twin (fdr_bh_correction), with a different test
    underneath: weekend-vs-weekday mean value difference under DAY-
    label permutation (cluster permutation — days, not users, are the
    exchangeable unit for a calendar effect).

    Determinism: the fdr twin's exact-compare idiom — statistics are
    cross-multiplied rationals compared via (quotient, remainder)
    pairs so nothing overflows and nothing is float; dow derives from
    integer epoch-day arithmetic ((day+4)%7, CLAUDE.md). Holm's
    rejected set is the cumulative AND of p_(k) <= alpha/(m-k+1),
    decided as p_num·(m-k+1)·alpha_den <= alpha_num·p_den.

    Scale: per-(type, day) reduction, a {K}+1-way broadcast explode of
    that day-cardinality frame, then |types|-row Holm algebra under a
    tiny window.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}")
        .alias("day"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"))
    days = (ev.groupBy("event_type", "day")
            .agg(F.sum("cents").alias("td"), F.count(F.lit(1)).alias("nd")))
    ks = spark.range(_HOLM_K + 1).select(F.col("id").alias("k"))
    arm = F.expr(
        "case when k = 0 then"
        " (case when (day + 4) % 7 in (0, 6) then 1 else 0 end)"
        " else cast(conv(substr(md5(concat('holm:', cast(k as string),"
        " ':', cast(day as string))), 1, 12), 16, 10) as bigint) % 2 end")
    per_k = (days.crossJoin(F.broadcast(ks))
             .select("event_type", "k", arm.alias("arm"), "td", "nd")
             .groupBy("event_type", "k")
             .agg(F.sum(F.expr("case when arm = 1 then td else 0 end"))
                  .alias("s1"),
                  F.sum(F.expr("case when arm = 1 then nd else 0 end"))
                  .alias("n1"),
                  F.sum(F.expr("case when arm = 0 then td else 0 end"))
                  .alias("s0"),
                  F.sum(F.expr("case when arm = 0 then nd else 0 end"))
                  .alias("n0"))
             .select("event_type", "k",
                     F.expr("s1 * n0 - s0 * n1").alias("a"),
                     F.expr("n1 * n0").alias("d")))
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
                  (F.count(F.lit(1)) + 1).alias("p_den")))
    w = Window.orderBy("p_num", "event_type")
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    wpre = Window.orderBy("p_num", "event_type") \
        .rowsBetween(Window.unboundedPreceding, 0)
    ranked = (pvals
              .withColumn("holm_rank", F.row_number().over(w))
              .withColumn("m", F.count(F.lit(1)).over(wall)))
    cond = F.expr(f"p_num * (m - holm_rank + 1) * {_HOLM_Q_DEN}"
                  f" <= {_HOLM_Q_NUM} * p_den")
    return (ranked
            .withColumn("ok", cond.cast("int"))
            .withColumn("rejected", F.min("ok").over(wpre) == 1)
            .select("event_type", "p_num", "p_den",
                    F.expr("1000000 * p_num div p_den").alias("p_e6"),
                    "holm_rank", "rejected"))


def _holm_sql() -> str:
    return f"""
WITH ev AS (
    SELECT event_type, epoch_us(ts) // {DAY_US} AS day,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
),
days AS (
    SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS td,
           CAST(count(*) AS BIGINT) AS nd
    FROM ev GROUP BY 1, 2
),
per_k AS (
    SELECT event_type, k,
           CAST(sum(CASE WHEN arm = 1 THEN td ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN nd ELSE 0 END) AS BIGINT)
           - CAST(sum(CASE WHEN arm = 0 THEN td ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 1 THEN nd ELSE 0 END) AS BIGINT)
               AS a,
           CAST(sum(CASE WHEN arm = 1 THEN nd ELSE 0 END) AS BIGINT)
               * CAST(sum(CASE WHEN arm = 0 THEN nd ELSE 0 END) AS BIGINT)
               AS d
    FROM (
        SELECT d.event_type, k.k, d.td, d.nd,
               CASE WHEN k.k = 0 THEN
                    (CASE WHEN (d.day + 4) % 7 IN (0, 6)
                          THEN 1 ELSE 0 END)
                    ELSE CAST('0x' || substr(md5('holm:'
                         || CAST(k.k AS VARCHAR) || ':'
                         || CAST(d.day AS VARCHAR)), 1, 12)
                         AS BIGINT) % 2 END AS arm
        FROM days d
        CROSS JOIN (SELECT unnest(generate_series(0, {_HOLM_K})) AS k) k
    )
    GROUP BY 1, 2
),
obs AS (SELECT event_type, a AS a0, d AS d0 FROM per_k WHERE k = 0),
pvals AS (
    SELECT p.event_type,
           1 + CAST(sum(CASE
               WHEN abs(p.a) // greatest(p.d, 1)
                    > abs(o.a0) // greatest(o.d0, 1) THEN 1
               WHEN abs(p.a) // greatest(p.d, 1)
                    = abs(o.a0) // greatest(o.d0, 1)
                    AND (abs(p.a) % greatest(p.d, 1)) * o.d0
                        >= (abs(o.a0) % greatest(o.d0, 1)) * p.d
               THEN 1 ELSE 0 END) AS BIGINT) AS p_num,
           CAST(count(*) + 1 AS BIGINT) AS p_den
    FROM per_k p JOIN obs o USING (event_type)
    WHERE p.k > 0
    GROUP BY 1
),
ranked AS (
    SELECT event_type, p_num, p_den,
           CAST(row_number() OVER (ORDER BY p_num, event_type) AS INT)
               AS holm_rank,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM pvals
),
flagged AS (
    SELECT *,
           CASE WHEN p_num * (m - holm_rank + 1) * {_HOLM_Q_DEN}
                     <= {_HOLM_Q_NUM} * p_den THEN 1 ELSE 0 END AS ok
    FROM ranked
)
SELECT event_type, p_num, p_den,
       1000000 * p_num // p_den AS p_e6,
       holm_rank,
       min(ok) OVER (ORDER BY p_num, event_type
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           = 1 AS rejected
FROM flagged
"""


QUERIES["holm_bonferroni_correction"] = (_holm, _holm_sql())


# --------------------------------------------------------------------------
# nelson_aalen_hazard: cumulative hazard over customer-churn lifetimes
# --------------------------------------------------------------------------
NA_CENSOR_DAYS = 180
NA_MONTH_DAYS = 30


def _nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator H(m) = Σ_{m'<=m}
    d_{m'}/n_{m'} over the same customer lifetimes the Kaplan–Meier
    twin uses (monthly first→last order span; active within the final
    {NA_CENSOR_DAYS} days = censored) — the hazard-scale view survival
    teams plot next to S(t), and the additive form that aggregates
    cleanly at scale.

    Determinism: lifetimes and risk sets are exact integers; each
    hazard increment quantizes to e6 (1e6·d div n, both positive) and
    the cumulative is an integer sum over the month spine.

    Scale: one keyed aggregate over orders to |customers| rows, one
    aggregate to |months| rows; spine walk is month-cardinality.
    """
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.expr("unix_micros(cast(o_orderdate as timestamp))"
               " div 86400000000").alias("oday"))
    life = (orders.groupBy("o_custkey")
            .agg(F.min("oday").alias("first_d"), F.max("oday").alias("last_d")))
    mx = orders.agg(F.max("oday").alias("max_d"))
    lf = (life.crossJoin(F.broadcast(mx))
          .select(F.expr(f"(last_d - first_d) div {NA_MONTH_DAYS}")
                  .alias("lm"),
                  (F.col("last_d") > F.col("max_d") - NA_CENSOR_DAYS)
                  .alias("censored")))
    months = (lf.groupBy("lm")
              .agg(F.count(F.lit(1)).alias("ending"),
                   F.sum((~F.col("censored")).cast("long")).alias("d")))
    wdesc = Window.orderBy(F.desc("lm")) \
        .rowsBetween(Window.unboundedPreceding, 0)
    wasc = Window.orderBy("lm").rowsBetween(Window.unboundedPreceding, 0)
    walked = (months
              .withColumn("n_risk", F.sum("ending").over(wdesc))
              .withColumn("inc_e6", F.expr("1000000 * d div n_risk"))
              .withColumn("h_e6", F.sum("inc_e6").over(wasc)))
    return walked.select(
        F.col("lm").cast("long").alias("month"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d_events"),
        "inc_e6", "h_e6")


_NA_SQL = f"""
WITH orders_d AS (
    SELECT o_custkey, epoch_us(o_orderdate) // 86400000000 AS oday
    FROM orders
),
life AS (
    SELECT o_custkey, min(oday) AS first_d, max(oday) AS last_d
    FROM orders_d GROUP BY 1
),
mx AS (SELECT max(oday) AS max_d FROM orders_d),
lf AS (
    SELECT (last_d - first_d) // {NA_MONTH_DAYS} AS lm,
           last_d > max_d - {NA_CENSOR_DAYS} AS censored
    FROM life CROSS JOIN mx
),
months AS (
    SELECT lm, CAST(count(*) AS BIGINT) AS ending,
           CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d
    FROM lf GROUP BY 1
),
walked AS (
    SELECT lm, d,
           CAST(sum(ending) OVER (ORDER BY lm DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_risk
    FROM months
)
SELECT lm AS month, n_risk, d AS d_events,
       1000000 * d // n_risk AS inc_e6,
       CAST(sum(1000000 * d // n_risk) OVER (ORDER BY lm
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS h_e6
FROM walked
"""

QUERIES["nelson_aalen_hazard"] = (_nelson_aalen, _NA_SQL)

# --------------------------------------------------------------------------
# huber_location_fixed_point: robust per-type location, K clipped rounds
# --------------------------------------------------------------------------
HUBER_C = 200        # clip width, cents
HUBER_ROUNDS = 6


def _huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type location: K = {HUBER_ROUNDS} fixed-point
    rounds of mu <- mu + mean(clip(x - mu, ±{HUBER_C})) — the Huber
    M-estimator's iteratively-clipped update, which the plain mean
    can't give you when a type's values carry heavy-tailed outliers.
    Output compares the robust location against the plain mean and
    counts the finally-clipped tail.

    Determinism: all cents-integer; the clipped-residual mean uses
    truncating integer division, identical in both engines for any
    sign (round-8 verification; the residual sum CAN be negative,
    which is safe because both engines truncate). The iteration
    count is fixed, so both engines unroll the identical recurrence
    (kmeans_fixed_point convention; the oracle unrolls rounds as
    CTEs).

    Scale: each round is ONE map-side-combinable aggregate over events
    joined to the broadcast |types|-row mu frame — the kmeans shape;
    no driver collect, no growing state.
    """
    # K+2 consumers: base + each round + final
    ev = persist(load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c")))
    base = ev.groupBy("event_type").agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n"))
    # Spark `div` and DuckDB integer `//` both truncate toward zero
    # (verified round 8), so s div n is engine-identical even for a
    # negative residual sum — plain integer division is the idiom
    mu = base.select("event_type", "n",
                     F.expr("s div n").alias("mu"),
                     F.expr("s div n").alias("mean_c"))
    clip = (f"greatest(cast(-{HUBER_C} as bigint),"
            f" least(cast({HUBER_C} as bigint), c - mu))")
    for _ in range(HUBER_ROUNDS):
        joined = ev.join(F.broadcast(mu), "event_type")
        mu = (joined.groupBy("event_type")
              .agg(F.max("n").alias("n"),
                   F.max("mean_c").alias("mean_c"),
                   F.max("mu").alias("mu_prev"),
                   F.sum(F.expr(clip.replace("mu", "mu"))).alias("sc"))
              .select("event_type", "n", "mean_c",
                      (F.col("mu_prev")
                       + F.expr(_sdiv("sc", "n"))).alias("mu")))
    final = ev.join(F.broadcast(mu), "event_type")
    return (final.groupBy("event_type")
            .agg(F.max("n").alias("n"),
                 F.max("mean_c").alias("mean_cents"),
                 F.max("mu").alias("huber_cents"),
                 F.sum((F.abs(F.col("c") - F.col("mu")) > HUBER_C)
                       .cast("long")).alias("n_clipped"))
            .select("event_type", F.col("n").cast("long").alias("n"),
                    "mean_cents", "huber_cents", "n_clipped"))


def _huber_sql() -> str:
    clip = (f"greatest(CAST(-{HUBER_C} AS BIGINT),"
            f" least(CAST({HUBER_C} AS BIGINT), e.c - m.mu))")
    rounds = ""
    prev = "r0"
    for i in range(1, HUBER_ROUNDS + 1):
        rounds += f""",
r{i} AS (
    SELECT e.event_type, m.n, m.mean_c,
           m.mu + {_sdiv_duck(f"CAST(sum({clip}) AS BIGINT)", "m.n")} AS mu
    FROM ev e JOIN {prev} m USING (event_type)
    GROUP BY e.event_type, m.n, m.mean_c, m.mu
)"""
        prev = f"r{i}"
    return f"""
WITH ev AS (
    SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS c
    FROM events
),
r0 AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(c) AS BIGINT) // count(*) AS mean_c,
           CAST(sum(c) AS BIGINT) // count(*) AS mu
    FROM ev GROUP BY 1
){rounds}
SELECT e.event_type, m.n, m.mean_c AS mean_cents,
       m.mu AS huber_cents,
       CAST(sum(CASE WHEN abs(e.c - m.mu) > {HUBER_C} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clipped
FROM ev e JOIN {prev} m USING (event_type)
GROUP BY 1, 2, 3, 4
"""


QUERIES["huber_location_fixed_point"] = (_huber_location, _huber_sql())


# --------------------------------------------------------------------------
# page_hinkley_drift: sequential mean-drift detector per event type
# --------------------------------------------------------------------------
PH_REF_DAYS = 10     # baseline window (first observed days per type)
PH_DELTA = 5         # tolerated drift, cents
PH_LAMBDA = 300      # alarm threshold, cents


def _page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley mean-drift detector per event type over the daily
    mean-value series: baseline = the first {PH_REF_DAYS} observed
    days' mean; then walk the remaining days accumulating (day_mean −
    baseline − δ) and alarm when the walk rises {PH_LAMBDA} cents
    above its own running minimum — the sequential monitor (CUSUM's
    drift-tolerant cousin) a metrics platform runs per series.

    Determinism: day means are floor cents (positive — plain div is
    safe); the walk, running minimum, and alarm pick (struct-min on
    the first alarm day) are exact integers.

    Scale: per-(type, day) reduction first, so every window is
    PARTITION BY event_type over day-cardinality rows; no
    corpus-sized window anywhere.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"unix_micros(cast(ts as timestamp)) div {DAY_US}")
        .alias("day"),
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"))
    days = (ev.groupBy("event_type", "day")
            .agg(F.expr("sum(c) div count(1)").alias("mean_c")))
    wt = Window.partitionBy("event_type").orderBy("day")
    ranked = days.withColumn("rk", F.row_number().over(wt))
    ref = (ranked.where(F.col("rk") <= PH_REF_DAYS)
           .groupBy("event_type")
           .agg(F.expr(f"sum(mean_c) div {PH_REF_DAYS}").alias("ref_c")))
    wcum = Window.partitionBy("event_type").orderBy("day") \
        .rowsBetween(Window.unboundedPreceding, 0)
    walk = (ranked.where(F.col("rk") > PH_REF_DAYS)
            .join(F.broadcast(ref), "event_type")
            .withColumn("dev", F.col("mean_c") - F.col("ref_c")
                        - PH_DELTA)
            .withColumn("cum", F.sum("dev").over(wcum))
            .withColumn("minpre", F.min("cum").over(wcum))
            .withColumn("ph", F.col("cum") - F.col("minpre")))
    return (walk.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_days_walked"),
                 F.max("ph").alias("max_ph"),
                 F.min(F.when(F.col("ph") >= PH_LAMBDA,
                              F.struct(F.col("day").alias("day"))))
                 .getField("day").alias("alarm"))
            .select("event_type", "n_days_walked",
                    F.col("max_ph").cast("long").alias("max_ph"),
                    F.coalesce(F.col("alarm"), F.lit(-1)).cast("long")
                    .alias("alarm_day"),
                    (F.col("alarm").isNotNull()).alias("drifted")))


_PH_SQL = f"""
WITH ev AS (
    SELECT event_type, epoch_us(ts) // {DAY_US} AS day,
           CAST(round(value * 100, 0) AS BIGINT) AS c
    FROM events
),
days AS (
    SELECT event_type, day,
           CAST(sum(c) AS BIGINT) // count(*) AS mean_c
    FROM ev GROUP BY 1, 2
),
ranked AS (
    SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                   ORDER BY day) AS INT) AS rk
    FROM days
),
ref AS (
    SELECT event_type,
           CAST(sum(mean_c) AS BIGINT) // {PH_REF_DAYS} AS ref_c
    FROM ranked WHERE rk <= {PH_REF_DAYS} GROUP BY 1
),
walk AS (
    SELECT r.event_type, r.day,
           r.mean_c - f.ref_c - {PH_DELTA} AS dev
    FROM ranked r JOIN ref f USING (event_type)
    WHERE r.rk > {PH_REF_DAYS}
),
cums AS (
    SELECT event_type, day,
           CAST(sum(dev) OVER w AS BIGINT) AS cum
    FROM walk
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ph AS (
    SELECT event_type, day, cum,
           cum - min(cum) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ph
    FROM cums
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days_walked,
       CAST(max(ph) AS BIGINT) AS max_ph,
       CAST(coalesce((min(CASE WHEN ph >= {PH_LAMBDA}
                     THEN struct_pack(day := day) END)).day, -1)
            AS BIGINT) AS alarm_day,
       max(CASE WHEN ph >= {PH_LAMBDA} THEN 1 ELSE 0 END) = 1 AS drifted
FROM ph
GROUP BY 1
"""

QUERIES["page_hinkley_drift"] = (_page_hinkley, _PH_SQL)


# --------------------------------------------------------------------------
# dp_quantile_histogram: DP quantiles via noised-histogram inversion
# --------------------------------------------------------------------------
DPQ_BINS = 64
DPQ_WIDTH = 800      # cents per bin
DPQ_SEED = "dpq-v1:"
DPQ_EPS_STR = "1.0"
DPQ_POINTS = (50, 90, 99)


def _dp_quantile_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private quantile release: histogram the event
    values into {DPQ_BINS} fixed {DPQ_WIDTH}-cent bins, add the
    dp_noised_counts derived-Laplace noise per bin (seeded md5 inverse
    CDF — reproducible, bit-identical in the oracle), clamp negatives,
    and invert the noised CDF at p50/p90/p99. The true quantile bin
    rides beside the release for error measurement (the repo's
    est-vs-exact pattern).

    Scale: one scan to {DPQ_BINS} aggregate rows; noise is a scalar
    expression on those rows; the CDF walk is a {DPQ_BINS}-row window.
    """
    ev = load(spark, sf_dir, "events").select(
        F.expr("cast(round(value * 100, 0) as bigint)").alias("c"))
    # Spark `div` and DuckDB integer `//` both truncate toward zero
    # (verified round 8), so the bin id is engine-identical for any
    # sign of c — no special idiom needed
    bins = (ev.select(F.least(F.lit(DPQ_BINS - 1),
                              F.expr(f"c div {DPQ_WIDTH}")).alias("b"))
            .groupBy("b").agg(F.count(F.lit(1)).alias("tc")))
    h = (f"cast(conv(substr(md5(concat('{DPQ_SEED}',"
         f" cast(b as string))), 1, 12), 16, 10) as bigint)")
    u = f"(({h}) + 1) / 281474976710657.0"
    lap = (f"(CASE WHEN {u} < 0.5 THEN ln(2.0 * ({u}))"
           f" ELSE -ln(2.0 * (1.0 - ({u}))) END) / {DPQ_EPS_STR}")
    noised = bins.select(
        "b", "tc",
        F.greatest(F.lit(0),
                   F.expr(f"cast(round(tc + {lap}, 0) as bigint)"))
        .alias("nc"))
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    walked = noised.select(
        "b",
        F.sum("nc").over(wcum).alias("cum_n"),
        F.sum("tc").over(wcum).alias("cum_t"),
        F.sum("nc").over(wall).alias("tot_n"),
        F.sum("tc").over(wall).alias("tot_t"))
    ps = F.explode(F.array(*[F.lit(p) for p in DPQ_POINTS])).alias("p")
    probe = walked.select("b", "cum_n", "cum_t", "tot_n", "tot_t", ps)
    dp_hit = (probe
              .where(F.col("cum_n") * 100 >= F.col("p") * F.col("tot_n"))
              .groupBy("p").agg(F.min("b").alias("dp_bin")))
    true_hit = (probe
                .where(F.col("cum_t") * 100 >= F.col("p")
                       * F.col("tot_t"))
                .groupBy("p").agg(F.min("b").alias("true_bin")))
    return (dp_hit.join(true_hit, "p")
            .select(F.col("p").cast("int").alias("p"),
                    F.col("dp_bin").cast("long").alias("dp_bin"),
                    (F.col("dp_bin") * DPQ_WIDTH).alias("dp_lo_cents"),
                    F.col("true_bin").cast("long").alias("true_bin"),
                    (F.col("dp_bin") - F.col("true_bin"))
                    .alias("bin_err")))


def _dpq_sql() -> str:
    h = (f"CAST('0x' || substr(md5('{DPQ_SEED}'"
         " || CAST(b AS VARCHAR)), 1, 12) AS BIGINT)")
    u = f"(({h}) + 1) / 281474976710657.0"
    lap = (f"(CASE WHEN {u} < 0.5 THEN ln(2.0 * ({u}))"
           f" ELSE -ln(2.0 * (1.0 - ({u}))) END) / {DPQ_EPS_STR}")
    return f"""
WITH ev AS (
    SELECT CAST(round(value * 100, 0) AS BIGINT) AS c FROM events
),
bins AS (
    SELECT least({DPQ_BINS - 1}, c // {DPQ_WIDTH}) AS b,
           CAST(count(*) AS BIGINT) AS tc
    FROM ev GROUP BY 1
),
noised AS (
    SELECT b, tc,
           greatest(CAST(0 AS BIGINT),
                    CAST(round(tc + {lap}, 0) AS BIGINT)) AS nc
    FROM bins
),
walked AS (
    SELECT b,
           CAST(sum(nc) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_n,
           CAST(sum(tc) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_t,
           CAST(sum(nc) OVER () AS BIGINT) AS tot_n,
           CAST(sum(tc) OVER () AS BIGINT) AS tot_t
    FROM noised
),
ps AS (SELECT unnest([{", ".join(str(p) for p in DPQ_POINTS)}]) AS p),
dp_hit AS (
    SELECT p, min(b) AS dp_bin
    FROM walked CROSS JOIN ps WHERE cum_n * 100 >= p * tot_n
    GROUP BY 1
),
true_hit AS (
    SELECT p, min(b) AS true_bin
    FROM walked CROSS JOIN ps WHERE cum_t * 100 >= p * tot_t
    GROUP BY 1
)
SELECT CAST(d.p AS INT) AS p,
       d.dp_bin, d.dp_bin * {DPQ_WIDTH} AS dp_lo_cents,
       t.true_bin, d.dp_bin - t.true_bin AS bin_err
FROM dp_hit d JOIN true_hit t USING (p)
"""


QUERIES["dp_quantile_histogram"] = (_dp_quantile_hist, _dpq_sql())


# --------------------------------------------------------------------------
# permutation_bh_fdr: randomization-test p-values + Benjamini-Hochberg
# --------------------------------------------------------------------------
PERM_K = 19            # null replicates -> p granularity 1/20
PERM_ALPHA_E6 = 100000  # alpha = 0.1, e6-scaled


def _permutation_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing pipeline with NO closed-form tails: per event
    type, the statistic |mean cents − global mean| gets a
    randomization-test p-value from ``PERM_K`` seeded relabelings
    (each event draws a pseudo-type from the EXACT observed type
    frequencies via a seeded md5 uniform against the cumulative count
    boundaries — the standard multinomial randomization null), then
    Benjamini–Hochberg step-up at α = 0.1 marks discoveries:
    reject p_(i) for all i ≤ max{i: p_(i) ≤ i·α/m}.

    Determinism: sums/counts exact ints; each |diff| is ONE double
    expression e6-floored before comparison; p = (1 + #{T_k ≥
    T_obs})/(K+1) in exact integer arithmetic; BH thresholds are
    integer (α·i·1e6) div m.

    Scale: the null replicates ride ONE corpus scan exploded ×K
    (map-side combinable to K·|types| groups); label assignment joins
    a broadcast |types|-row boundary table; everything after is on
    K·|types| rows. BH runs on the m-row p table (bounded alphabet).
    """
    ev = load(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"))
    tc = (ev.groupBy("event_type")
          .agg(F.count(F.lit(1)).cast("long").alias("n"),
               F.sum("c").alias("s")))
    # cumulative boundaries on the bounded type table (triangular join)
    bounds = (tc.alias("a")
              .join(F.broadcast(tc.select(
                  F.col("event_type").alias("bt"), F.col("n").alias("bn"))),
                  F.col("bt") < F.col("a.event_type"), "left")
              .groupBy(F.col("a.event_type").alias("label"),
                       F.col("a.n").alias("n"))
              .agg(F.coalesce(F.sum("bn"), F.lit(0)).cast("long")
                    .alias("lo"))
              .select("label", "lo", (F.col("lo") + F.col("n")).alias("hi")))
    glob = F.broadcast(ev.agg(F.sum("c").alias("gs"),
                              F.count(F.lit(1)).cast("long").alias("nn")))
    gmean = "(cast(gs as double) / nn)"
    # observed statistic per type
    obs = (tc.crossJoin(glob)
           .select(F.col("event_type").alias("label"),
                   F.expr(f"cast(floor(1000000 * abs(cast(s as double) / n"
                          f" - {gmean})) as bigint)").alias("t_obs")))
    # K seeded relabelings: u ~ U[0, nn) from md5(perm, event_id)
    ks = F.explode(F.array(*[F.lit(i) for i in range(PERM_K)])).alias("k")
    drawn = (ev.crossJoin(glob)
             .select("event_id", "c", "nn", ks)
             .select("c", "k",
                     F.expr("cast(conv(substr(md5(concat('perm', k, ':',"
                            " cast(event_id as string))), 1, 12), 16, 10)"
                            " as bigint) % nn").alias("u")))
    null_stats = (drawn.join(F.broadcast(bounds),
                             (F.col("u") >= F.col("lo"))
                             & (F.col("u") < F.col("hi")))
                  .groupBy("k", "label")
                  .agg(F.count(F.lit(1)).cast("long").alias("n"),
                       F.sum("c").alias("s"))
                  .crossJoin(glob)
                  .select("k", "label",
                          F.expr(f"cast(floor(1000000 * abs(cast(s as"
                                 f" double) / n - {gmean})) as bigint)")
                           .alias("t_k")))
    pvals = (null_stats.join(F.broadcast(obs), "label")
             .groupBy("label", "t_obs")
             .agg(F.sum((F.col("t_k") >= F.col("t_obs")).cast("long"))
                   .alias("n_ge"))
             .select("label", "t_obs",
                     F.expr(f"cast((1000000 * (1 + n_ge))"
                            f" div {PERM_K + 1} as bigint)")
                      .alias("p_e6")))
    wp = Window.orderBy(F.col("p_e6").asc(), F.col("label").asc())
    nt = F.broadcast(pvals.agg(F.count(F.lit(1)).cast("long").alias("m")))
    ranked = (pvals.crossJoin(nt)
              .withColumn("pos", F.row_number().over(wp).cast("long"))
              .withColumn("bh_thresh_e6",
                          F.expr(f"({PERM_ALPHA_E6} * pos) div m")))
    kmax = (ranked.agg(F.max(F.when(
        F.col("p_e6") <= F.col("bh_thresh_e6"), F.col("pos")))
        .alias("kmax")))
    return (ranked.crossJoin(F.broadcast(kmax))
            .select("label", "t_obs", "p_e6", "pos", "bh_thresh_e6",
                    (F.col("pos") <= F.coalesce(F.col("kmax"), F.lit(0)))
                    .cast("int").alias("rejected")))


def _perm_bh_sql() -> str:
    gmean = "(CAST(g.gs AS DOUBLE) / g.nn)"
    return f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS c
  FROM events
),
tc AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s
  FROM ev GROUP BY 1
),
bounds AS (
  SELECT a.event_type AS label, a.n,
         CAST(coalesce(sum(b.n), 0) AS BIGINT) AS lo,
         CAST(coalesce(sum(b.n), 0) + a.n AS BIGINT) AS hi
  FROM tc a LEFT JOIN tc b ON b.event_type < a.event_type
  GROUP BY 1, 2
),
g AS (SELECT CAST(sum(c) AS BIGINT) AS gs,
             CAST(count(*) AS BIGINT) AS nn FROM ev),
obs AS (
  SELECT t.event_type AS label,
         CAST(floor(1000000 * abs(CAST(t.s AS DOUBLE) / t.n - {gmean}))
              AS BIGINT) AS t_obs
  FROM tc t CROSS JOIN g
),
drawn AS (
  SELECT e.c, k.k,
         CAST('0x' || substr(md5('perm' || CAST(k.k AS VARCHAR) || ':'
              || CAST(e.event_id AS VARCHAR)), 1, 12) AS BIGINT)
             % g.nn AS u
  FROM ev e
  CROSS JOIN (SELECT unnest(range(0, {PERM_K})) AS k) k
  CROSS JOIN g
),
null_stats AS (
  SELECT d.k, b.label,
         CAST(floor(1000000 * abs(CAST(sum(d.c) AS DOUBLE) / count(*)
              - (SELECT {gmean.replace('g.', '')} FROM g)))
              AS BIGINT) AS t_k
  FROM drawn d JOIN bounds b ON d.u >= b.lo AND d.u < b.hi
  GROUP BY 1, 2
),
pvals AS (
  SELECT o.label, o.t_obs,
         CAST((1000000 * (1 + sum(CASE WHEN ns.t_k >= o.t_obs
                                       THEN 1 ELSE 0 END)))
              // {PERM_K + 1} AS BIGINT) AS p_e6
  FROM null_stats ns JOIN obs o USING (label)
  GROUP BY 1, 2
),
m_t AS (SELECT CAST(count(*) AS BIGINT) AS m FROM pvals),
ranked AS (
  SELECT label, t_obs, p_e6,
         CAST(row_number() OVER (ORDER BY p_e6 ASC, label ASC) AS BIGINT)
             AS pos,
         ({PERM_ALPHA_E6} * CAST(row_number() OVER (ORDER BY p_e6 ASC,
                                 label ASC) AS BIGINT)) // m_t.m
             AS bh_thresh_e6
  FROM pvals CROSS JOIN m_t
),
kmax AS (
  SELECT max(CASE WHEN p_e6 <= bh_thresh_e6 THEN pos END) AS kmax
  FROM ranked
)
SELECT r.label, r.t_obs, r.p_e6, r.pos, r.bh_thresh_e6,
       CAST(CASE WHEN r.pos <= coalesce(k.kmax, 0) THEN 1 ELSE 0 END
            AS INT) AS rejected
FROM ranked r CROSS JOIN kmax k
"""


QUERIES["permutation_bh_fdr"] = (_permutation_bh_fdr, _perm_bh_sql())


# --------------------------------------------------------------------------
# mutual_information_features: MI + entropies of type vs time features
# --------------------------------------------------------------------------


def _mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plug-in mutual information between event_type and each derived
    time feature (day-of-week, hour-of-day): MI = Σ_cells (c/N)·
    ln(c·N/(rt·ct)), plus the marginal entropies that normalize it.
    Each per-cell/per-marginal term is e9-floored INDEPENDENTLY and
    the sums are exact int64 — cross-engine equality without trusting
    a float reduction order (CLAUDE.md float-reduction rule).

    dow/hour come from integer epoch arithmetic ((days+4)%7 — never
    engine dayofweek(); CLAUDE.md).

    Scale: per feature, ONE map-side aggregate to |types|×|levels|
    cells; marginals re-aggregate the bounded cell table.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("(unix_micros(cast(ts as timestamp)) div 86400000000 + 4)"
               " % 7").alias("dow"),
        F.expr("(unix_micros(cast(ts as timestamp)) % 86400000000)"
               " div 3600000000").alias("hour"))
    out = None
    for feat in ("dow", "hour"):
        cells = (ev.groupBy("event_type", feat)
                 .agg(F.count(F.lit(1)).cast("long").alias("c")))
        rt = cells.groupBy("event_type").agg(F.sum("c").alias("rt"))
        ct = cells.groupBy(feat).agg(F.sum("c").alias("ct"))
        nn = F.broadcast(cells.agg(F.sum("c").cast("long").alias("nn")))
        mi = (cells.join(F.broadcast(rt), "event_type")
              .join(F.broadcast(ct), feat)
              .crossJoin(nn)
              .agg(F.sum(F.expr(
                  "cast(floor(1000000000 * (cast(c as double) / nn)"
                  " * ln(cast(c as double) * nn / (cast(rt as double)"
                  " * ct))) as bigint)")).alias("mi_e9"),
                  F.count(F.lit(1)).cast("long").alias("n_cells")))
        hx = (rt.crossJoin(nn)
              .agg(F.sum(F.expr(
                  "cast(floor(1000000000 * (cast(rt as double) / nn)"
                  " * ln(cast(nn as double) / rt)) as bigint)"))
                  .alias("h_type_e9")))
        hy = (ct.crossJoin(nn)
              .agg(F.sum(F.expr(
                  "cast(floor(1000000000 * (cast(ct as double) / nn)"
                  " * ln(cast(nn as double) / ct)) as bigint)"))
                  .alias("h_feat_e9")))
        row = (mi.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
               .select(F.lit(feat).alias("feature"), "n_cells",
                       "mi_e9", "h_type_e9", "h_feat_e9"))
        out = row if out is None else out.unionByName(row)
    return out


def _mi_sql() -> str:
    parts = []
    for feat, expr in (("dow", "(epoch_us(ts) // 86400000000 + 4) % 7"),
                       ("hour", "(epoch_us(ts) % 86400000000)"
                                " // 3600000000")):
        parts.append(f"""
SELECT '{feat}' AS feature, n_cells, mi_e9, h_type_e9, h_feat_e9 FROM (
  WITH ev AS (
    SELECT event_type, {expr} AS f FROM events
  ),
  cells AS (
    SELECT event_type, f, CAST(count(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
  ),
  rt AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS rt
         FROM cells GROUP BY 1),
  ct AS (SELECT f, CAST(sum(c) AS BIGINT) AS ct FROM cells GROUP BY 1),
  nn AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM cells)
  SELECT
    (SELECT CAST(sum(CAST(floor(1000000000 * (CAST(c.c AS DOUBLE) / n.nn)
         * ln(CAST(c.c AS DOUBLE) * n.nn
              / (CAST(r.rt AS DOUBLE) * t.ct))) AS BIGINT)) AS BIGINT)
     FROM cells c JOIN rt r USING (event_type) JOIN ct t USING (f)
     CROSS JOIN nn n) AS mi_e9,
    (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
    (SELECT CAST(sum(CAST(floor(1000000000 * (CAST(r.rt AS DOUBLE) / n.nn)
         * ln(CAST(n.nn AS DOUBLE) / r.rt)) AS BIGINT)) AS BIGINT)
     FROM rt r CROSS JOIN nn n) AS h_type_e9,
    (SELECT CAST(sum(CAST(floor(1000000000 * (CAST(t.ct AS DOUBLE) / n.nn)
         * ln(CAST(n.nn AS DOUBLE) / t.ct)) AS BIGINT)) AS BIGINT)
     FROM ct t CROSS JOIN nn n) AS h_feat_e9
)""")
    return "\nUNION ALL\n".join(parts)


QUERIES["mutual_information_features"] = (
    _mutual_information, _mi_sql())


# --------------------------------------------------------------------------
# hill_tail_index: heavy-tail exponent from the top-k order statistics
# --------------------------------------------------------------------------
HILL_K = 200


def _hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index over the ``HILL_K`` largest
    event values: H = mean of ln(x_i / x_k) over the top k−1, tail
    exponent α = 1/H — the standard answer to "how heavy is this
    value distribution's tail" before anyone trusts a mean at 100 TB.
    Each log term is e9-floored independently (one double expression);
    H and α are exact integer divisions of the summed terms.

    Scale: TakeOrdered top-k (per-partition heaps, k-row driver
    merge) is the only corpus-wide operator; everything after runs on
    k rows.
    """
    top = (load(spark, sf_dir, "events")
           .select(F.round(F.col("value") * 100).cast("long").alias("c"),
                   "event_id")
           .orderBy(F.col("c").desc(), F.col("event_id").asc())
           .limit(HILL_K))
    xk = F.broadcast(top.agg(F.min("c").alias("xk")))
    terms = (top.crossJoin(xk)
             .where(F.col("c") > F.col("xk"))
             .agg(F.sum(F.expr(
                 "cast(floor(1000000000 * ln(cast(c as double) / xk))"
                 " as bigint)")).alias("sum_e9"),
                 F.count(F.lit(1)).cast("long").alias("n_gt")))
    return (terms.crossJoin(xk)
            .select(F.lit(HILL_K).alias("k"),
                    F.col("xk").alias("xk_cents"), "n_gt",
                    F.expr(f"sum_e9 div ({HILL_K} - 1)").alias("hill_e9"),
                    F.expr(f"(1000000 * cast(({HILL_K} - 1) as bigint)"
                           f" * 1000000000) div sum_e9").alias("alpha_e6")))


_HILL_SQL = f"""
WITH top AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events ORDER BY c DESC, event_id ASC LIMIT {HILL_K}
),
xk AS (SELECT min(c) AS xk FROM top),
terms AS (
  SELECT CAST(sum(CAST(floor(1000000000 * ln(CAST(c AS DOUBLE) / x.xk))
              AS BIGINT)) AS BIGINT) AS sum_e9,
         CAST(count(*) AS BIGINT) AS n_gt
  FROM top CROSS JOIN xk x WHERE c > x.xk
)
SELECT {HILL_K} AS k, x.xk AS xk_cents, t.n_gt,
       t.sum_e9 // ({HILL_K} - 1) AS hill_e9,
       (1000000 * CAST(({HILL_K} - 1) AS BIGINT) * 1000000000)
           // t.sum_e9 AS alpha_e6
FROM terms t CROSS JOIN xk x
"""

QUERIES["hill_tail_index"] = (_hill_tail_index, _HILL_SQL)


# --------------------------------------------------------------------------
# pinball_quantile_fit: grid-search quantile estimation by pinball loss
# --------------------------------------------------------------------------
PIN_Q10 = 9            # target quantile q = 0.9, in tenths
PIN_GRID_STEP = 250    # candidate spacing, cents
PIN_GRID_N = 81        # candidates 0, 250, ..., 20000 cents


def _pinball_quantile_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation the ML way: per event type, grid-search the
    value c minimizing the pinball (quantile) loss Σ max(q·(x−c),
    (q−1)·(x−c)) at q = 0.9 — the loss a quantile regressor optimizes,
    here solved exactly on a bounded candidate grid. Loss is exact
    int64 in tenths (q = 9/10): x > c contributes 9·(x−c), else
    1·(c−x); the winner is a struct-min with the candidate as
    tie-break.

    Scale: ONE corpus scan exploded ×{PIN_GRID_N} candidates,
    map-side combinable to |types|·{PIN_GRID_N} groups; the argmin
    runs on that bounded table.
    """
    grid = F.explode(F.array(*[F.lit(j * PIN_GRID_STEP)
                               for j in range(PIN_GRID_N)]))
    losses = (load(spark, sf_dir, "events")
              .select("event_type",
                      F.round(F.col("value") * 100).cast("long").alias("x"))
              .select("event_type", "x", grid.alias("c"))
              .groupBy("event_type", "c")
              .agg(F.sum(F.expr(
                  f"case when x > c then {PIN_Q10} * (x - c)"
                  f" else {10 - PIN_Q10} * (c - x) end"))
                  .alias("loss10")))
    return (losses.groupBy("event_type")
            .agg(F.min(F.struct("loss10", "c")).alias("m"))
            .select("event_type", F.col("m.c").alias("best_c_cents"),
                    F.col("m.loss10").alias("loss10")))


def _pinball_sql() -> str:
    return f"""
WITH losses AS (
  SELECT event_type, c,
         CAST(sum(CASE WHEN x > c THEN {PIN_Q10} * (x - c)
                       ELSE {10 - PIN_Q10} * (c - x) END) AS BIGINT)
             AS loss10
  FROM (SELECT event_type,
               CAST(round(value * 100) AS BIGINT) AS x FROM events)
  CROSS JOIN (SELECT unnest(range(0, {PIN_GRID_N}))
                     * {PIN_GRID_STEP} AS c)
  GROUP BY 1, 2
)
SELECT event_type,
       (min(struct_pack(loss10 := loss10, c := c))).c AS best_c_cents,
       (min(struct_pack(loss10 := loss10, c := c))).loss10 AS loss10
FROM losses
GROUP BY 1
"""


QUERIES["pinball_quantile_fit"] = (_pinball_quantile_fit, _pinball_sql())


# --------------------------------------------------------------------------
# regression_discontinuity: local-mean jump at a running-variable cutoff
# --------------------------------------------------------------------------
RD_CUTOFF_C = 15_000_000   # $150k order total, cents
RD_BANDWIDTH_C = 3_000_000  # +/- $30k window


def _regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp regression-discontinuity estimate: does the outcome
    (lineitems per order) jump at the ``RD_CUTOFF_C`` order-value
    cutoff? Local means within ``RD_BANDWIDTH_C`` on each side —
    exact integer sums, e6-floored means, the RD estimate is their
    difference. The causal-inference sibling of did_estimator /
    cuped_variance_reduction.

    Scale: orders filters to the bandwidth at the SCAN (pushed
    range predicate); the outcome join is one keyed shuffle of only
    the in-band orders; the report is a 1-row reduce.
    """
    lo, hi = RD_CUTOFF_C - RD_BANDWIDTH_C, RD_CUTOFF_C + RD_BANDWIDTH_C
    orders = (load(spark, sf_dir, "orders")
              .select("o_orderkey",
                      F.round(F.col("o_totalprice") * 100).cast("long")
                       .alias("r"))
              .where((F.col("r") >= lo) & (F.col("r") < hi)))
    items = (load(spark, sf_dir, "lineitem")
             .groupBy("l_orderkey")
             .agg(F.count(F.lit(1)).cast("long").alias("y")))
    side = (orders.join(items, orders.o_orderkey == items.l_orderkey)
            .select((F.col("r") >= RD_CUTOFF_C).cast("int").alias("above"),
                    "y"))
    agg = (side.groupBy("above")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("y").cast("long").alias("sy"))
           .select("above", "n", "sy",
                   F.expr("(1000000 * sy) div n").alias("mean_y_e6")))
    lo_side = agg.where(F.col("above") == 0).select(
        F.col("n").alias("n_below"), F.col("mean_y_e6").alias("mean_below_e6"))
    hi_side = agg.where(F.col("above") == 1).select(
        F.col("n").alias("n_above"), F.col("mean_y_e6").alias("mean_above_e6"))
    return (lo_side.crossJoin(hi_side)
            .select("n_below", "n_above", "mean_below_e6", "mean_above_e6",
                    (F.col("mean_above_e6") - F.col("mean_below_e6"))
                    .alias("rd_estimate_e6")))


_RD_SQL = f"""
WITH orders_b AS (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS r
  FROM orders
  WHERE CAST(round(o_totalprice * 100) AS BIGINT)
            >= {RD_CUTOFF_C - RD_BANDWIDTH_C}
    AND CAST(round(o_totalprice * 100) AS BIGINT)
            < {RD_CUTOFF_C + RD_BANDWIDTH_C}
),
items AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS y
  FROM lineitem GROUP BY 1
),
agg AS (
  SELECT CASE WHEN r >= {RD_CUTOFF_C} THEN 1 ELSE 0 END AS above,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS sy
  FROM orders_b o JOIN items i ON o.o_orderkey = i.l_orderkey
  GROUP BY 1
)
SELECT b.n AS n_below, a.n AS n_above,
       (1000000 * b.sy) // b.n AS mean_below_e6,
       (1000000 * a.sy) // a.n AS mean_above_e6,
       (1000000 * a.sy) // a.n - (1000000 * b.sy) // b.n
           AS rd_estimate_e6
FROM (SELECT * FROM agg WHERE above = 0) b
CROSS JOIN (SELECT * FROM agg WHERE above = 1) a
"""

QUERIES["regression_discontinuity"] = (
    _regression_discontinuity, _RD_SQL)


# --------------------------------------------------------------------------
# odds_ratio_ci: 2x2 effect size, exact-rational OR + Woolf significance
# --------------------------------------------------------------------------
OR_Z95_E6 = 1_959_964   # z for the 95% level, e6


def _odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio for each event type vs the rest (exposure = the
    type, outcome = value ≥ $50), with Haldane–Anscombe +0.5 cells.
    Every REPORTED number is exact rational integer arithmetic:
    or_e6 = ⌊1e6·(2a+1)(2d+1)/((2b+1)(2c+1))⌋ (the ×2 trick clears
    the halves) and Woolf's se² as Σ⌊2e9/(2x+1)⌋ per cell — no
    floored transcendental ever crosses the engine boundary (a first
    draft floored ln/sqrt and hit a genuine 1-ulp libm divergence at
    sf0.1). Significance (CI excludes OR = 1) is the Woolf test
    (ln OR)² > z²·se² evaluated as a double COMPARISON — a boolean
    can only flip if the two engines straddle the threshold, which the
    e6/e9 ledger columns would expose.

    Int64 headroom: (2a+1)(2d+1)·1e6 stays < 2^63 through ~sf1.

    Scale: ONE map-side aggregate to |types| 2×2 rows; all math on
    the bounded type table.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        (F.round(F.col("value") * 100).cast("long") >= 5000)
        .cast("long").alias("hi"))
    per = (ev.groupBy("event_type")
           .agg(F.count(F.lit(1)).cast("long").alias("n"),
                F.sum("hi").cast("long").alias("a")))
    tot = F.broadcast(per.agg(F.sum("n").alias("nn"),
                              F.sum("a").alias("aa")))
    cells = (per.crossJoin(tot)
             .select("event_type",
                     F.col("a").alias("a"),
                     (F.col("n") - F.col("a")).alias("b"),
                     (F.col("aa") - F.col("a")).alias("c"),
                     (F.col("nn") - F.col("n") - F.col("aa") + F.col("a"))
                     .alias("d")))
    se2 = ("(2000000000 div (2 * a + 1) + 2000000000 div (2 * b + 1)"
           " + 2000000000 div (2 * c + 1) + 2000000000 div (2 * d + 1))")
    lor = ("ln((cast(2 * a + 1 as double) * (2 * d + 1))"
           " / (cast(2 * b + 1 as double) * (2 * c + 1)))")
    zz = OR_Z95_E6 * OR_Z95_E6  # z^2, e12
    return cells.select(
        "event_type", "a", "b", "c", "d",
        F.expr("(1000000 * (2 * a + 1) * (2 * d + 1))"
               " div ((2 * b + 1) * (2 * c + 1))").alias("or_e6"),
        F.expr(se2).alias("se2_e9"),
        F.expr(f"cast(({lor}) * ({lor})"
               f" > ({zz} / 1e12) * ({se2} / 1e9) as int)")
         .alias("significant"))


def _or_sql() -> str:
    se2 = ("(2000000000 // (2 * a + 1) + 2000000000 // (2 * b + 1)"
           " + 2000000000 // (2 * c + 1) + 2000000000 // (2 * d + 1))")
    lor = ("ln((CAST(2 * a + 1 AS DOUBLE) * (2 * d + 1))"
           " / (CAST(2 * b + 1 AS DOUBLE) * (2 * c + 1)))")
    zz = OR_Z95_E6 * OR_Z95_E6
    return f"""
WITH per AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN CAST(round(value * 100) AS BIGINT) >= 5000
                       THEN 1 ELSE 0 END) AS BIGINT) AS a
  FROM events GROUP BY 1
),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(a) AS BIGINT) AS aa FROM per),
cells AS (
  SELECT event_type, a, n - a AS b, aa - a AS c, nn - n - aa + a AS d
  FROM per CROSS JOIN tot
)
SELECT event_type, a, b, c, d,
       (1000000 * (2 * a + 1) * (2 * d + 1))
           // ((2 * b + 1) * (2 * c + 1)) AS or_e6,
       CAST({se2} AS BIGINT) AS se2_e9,
       CAST(CASE WHEN ({lor}) * ({lor})
                      > ({zz} / 1e12) * ({se2} / 1e9)
                 THEN 1 ELSE 0 END AS INT) AS significant
FROM cells
"""


QUERIES["odds_ratio_ci"] = (_odds_ratio_ci, _or_sql())


# ---------------------------------------------------------------------------
# Instrumental-variable (Wald / 2SLS) estimate vs naive OLS
# ---------------------------------------------------------------------------

def _iv_wald_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald/2SLS instrumental-variable estimate of the effect of order
    line-count (x, the endogenous regressor) on order value (y, whole
    dollars), instrumented by a customer-side binary z (nationkey < 12)
    — next to the naive OLS slope so the endogeneity gap is visible.
    With one binary instrument, 2SLS reduces to the Wald ratio

        beta_iv  = (n·Σzy − Σz·Σy) / (n·Σzx − Σz·Σx)
        beta_ols = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

    — every moment an exact int64 sum (dollars via the anova half-up
    idiom), both ratios e6-floored from exact integers via IEEE double
    division. The first-stage covariance (the denominator) is emitted
    raw: an analyst must see instrument strength, not just the ratio.

    Scale: one lineitem aggregate to per-order counts, one broadcast
    customer join, one 1-row moment reduction — integer sums are
    associative, so no fold is needed. int64 headroom: n·Σzy ≈ 10¹⁸ at
    sf1 (dollar moments; cents would overflow at sf0.1).
    """
    li = load(spark, sf_dir, "lineitem").groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("x"))
    dollars = F.floor((F.round(F.col("o_totalprice") * 100) + 50) / 100.0) \
        .cast("long")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", dollars.alias("y"))
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_nationkey") < 12, 1).otherwise(0)
        .cast("long").alias("z"))
    base = (orders.join(li, orders.o_orderkey == li.l_orderkey)
            .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .select("x", "y", "z"))
    mom = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum("z").alias("sz"),
        F.sum(F.col("z") * F.col("y")).alias("szy"),
        F.sum(F.col("z") * F.col("x")).alias("szx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"))
    iv_num = F.col("n") * F.col("szy") - F.col("sz") * F.col("sy")
    iv_den = F.col("n") * F.col("szx") - F.col("sz") * F.col("sx")
    ols_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    ols_den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return mom.select(
        "n", iv_den.alias("first_stage_cov"),
        F.floor(F.lit(1_000_000.0) * iv_num.cast("double")
                / iv_den.cast("double")).cast("long").alias("beta_iv_e6"),
        F.floor(F.lit(1_000_000.0) * ols_num.cast("double")
                / ols_den.cast("double")).cast("long").alias("beta_ols_e6"))


_IV_SQL = """
WITH li AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS x
  FROM lineitem GROUP BY 1
), base AS (
  SELECT li.x,
         CAST(floor((round(o.o_totalprice * 100) + 50) / 100.0) AS BIGINT)
             AS y,
         CASE WHEN c.c_nationkey < 12 THEN 1 ELSE 0 END::BIGINT AS z
  FROM orders o
  JOIN li ON o.o_orderkey = li.l_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
), mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(z) AS BIGINT) AS sz,
         CAST(sum(z * y) AS BIGINT) AS szy,
         CAST(sum(z * x) AS BIGINT) AS szx,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM base
)
SELECT n, n * szx - sz * sx AS first_stage_cov,
       CAST(floor(1000000.0 * CAST(n * szy - sz * sy AS DOUBLE)
                  / CAST(n * szx - sz * sx AS DOUBLE)) AS BIGINT)
           AS beta_iv_e6,
       CAST(floor(1000000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
           AS beta_ols_e6
FROM mom
"""

QUERIES["iv_wald_estimate"] = (_iv_wald_estimate, _IV_SQL)


# ---------------------------------------------------------------------------
# A/B test sample-size calculator (two-proportion z power formula)
# ---------------------------------------------------------------------------
_PWR_Z_ALPHA = 1.959964  # z_{0.975}: two-sided alpha = 0.05 (literal)
_PWR_Z_BETA = 0.841621   # z_{0.80}: power = 80% (literal)
_PWR_MDE_REL_E6 = 100_000  # minimum detectable effect: +10% relative


def _ab_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-arm sample size required to detect a +10% relative lift in
    big-spend conversion (any event over 250.00 — the rare outcome; a
    near-saturated rate would push p2 past 1) at alpha=.05
    (two-sided) / 80% power — the
    calculator every experimentation platform runs BEFORE
    ``ab_test_ztest`` ever sees data:

        n = (z_a·√(2·p̄·(1−p̄)) + z_b·√(p1(1−p1)+p2(1−p2)))² / (p2−p1)²

    The z constants are numeric LITERALS (no Φ/erf libm call exists in
    the formula itself); the baseline p1 is an exact integer ratio of
    converted-to-total users, and every remaining op is IEEE
    mul/div/√ — bit-identical cross-engine.

    Scale: one user-keyed aggregate to (converters, users), then a
    1-row calculation.
    """
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.expr("cast(round(value * 100, 0) as bigint)")
        .alias("cents"))
    base = (ev.groupBy("user_id")
            .agg(F.max((F.col("cents") > 25_000).cast("long")).alias("y"))
            .agg(F.sum("y").alias("conv"),
                 F.count(F.lit(1)).alias("users")))
    p1 = F.col("conv").cast("double") / F.col("users").cast("double")
    p2 = p1 * (1.0 + _PWR_MDE_REL_E6 / 1e6)
    pbar = (p1 + p2) / 2.0
    num = (F.lit(_PWR_Z_ALPHA) * F.sqrt(2.0 * pbar * (1.0 - pbar))
           + F.lit(_PWR_Z_BETA)
           * F.sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
    n = (num * num) / ((p2 - p1) * (p2 - p1))
    return base.select(
        "users", "conv",
        F.floor(F.lit(1e6) * p1).cast("long").alias("p1_e6"),
        F.lit(_PWR_MDE_REL_E6).cast("long").alias("mde_rel_e6"),
        F.ceil(n).cast("long").alias("n_per_arm"))


_PWR_SQL = f"""
WITH base AS (
  SELECT CAST(sum(y) AS BIGINT) AS conv, CAST(count(*) AS BIGINT) AS users
  FROM (SELECT user_id,
               max(CASE WHEN CAST(round(value * 100, 0) AS BIGINT) > 25000
                        THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1)
), calc AS (
  SELECT users, conv,
         CAST(conv AS DOUBLE) / CAST(users AS DOUBLE) AS p1,
         (CAST(conv AS DOUBLE) / CAST(users AS DOUBLE))
             * (1.0 + {_PWR_MDE_REL_E6} / 1e6) AS p2
  FROM base
)
SELECT users, conv,
       CAST(floor(1e6 * p1) AS BIGINT) AS p1_e6,
       CAST({_PWR_MDE_REL_E6} AS BIGINT) AS mde_rel_e6,
       CAST(ceil(
         (({_PWR_Z_ALPHA} * sqrt(2.0 * ((p1 + p2) / 2.0)
                                 * (1.0 - (p1 + p2) / 2.0))
           + {_PWR_Z_BETA} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
          * ({_PWR_Z_ALPHA} * sqrt(2.0 * ((p1 + p2) / 2.0)
                                   * (1.0 - (p1 + p2) / 2.0))
             + {_PWR_Z_BETA} * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2))))
         / ((p2 - p1) * (p2 - p1))) AS BIGINT) AS n_per_arm
FROM calc
"""

QUERIES["ab_power_sample_size"] = (_ab_power_sample_size, _PWR_SQL)


# ---------------------------------------------------------------------------
# continuous_batching_replay (round 11): iteration-level scheduling
# ---------------------------------------------------------------------------
# Orca/vLLM-style continuous batching vs static batching, replayed over
# the event stream as a deterministic integer B-server queue: each
# request occupies one of _CB_SLOTS decode slots for its generation
# length; continuous batching admits a request the moment any slot
# frees, static batching waits for the whole previous batch and for all
# B members to arrive. Both replays are LEFT FOLDS over the same
# arrival-ordered request list with LIST accumulators (the verified-
# safe fold shape in both engines — CLAUDE.md fold rules).
_CB_SLOTS = 8          # decode slots (batch size B)
_CB_ARR_STEP = 4       # arrival spacing in token-steps (rho ~ 1.02)
_CB_LEN_MOD = 64       # generation length in 1.._CB_LEN_MOD steps


def continuous_batching_replay(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Serving-capacity replay: per event_type stream, total and mean
    queue wait (token-steps) under continuous batching vs static
    batching at the same slot count, and the continuous-batching
    speedup — the measurement behind "iteration-level scheduling cuts
    TTFT by Nx" serving claims, computed exactly on the replayed
    arrival order.

    Model: request i of a stream arrives at step 4i, decodes for
    1..64 steps (md5-derived). Continuous: earliest-free-slot admission
    (the B slot-finish times ride in the fold accumulator; each step
    replaces the min slot). Static: requests batch in arrival groups
    of B; a batch starts at max(last member arrival, previous batch
    finish) and holds all slots for its max member length.

    Determinism: pure integer folds over rn-sorted lists; the
    accumulator is a single flat BIGINT list (1-based: [0]=total wait,
    rest = slot/batch state) — the verified-safe shape; min-slot ties
    resolve to the first position in both engines (list_position /
    array_position on the same list layout).

    Scale: one events scan; per-stream requests collect to ONE row per
    event_type for the fold — bounded by the per-stream request count,
    the same contract as the repo's other sequential replays (elo,
    token_bucket). At 100 TB shard streams by (event_type, day) and
    chain day folds through the carry row, or cap the replay window;
    the fold itself is O(n * B) with B = 8.
    """
    ev = (load(spark, sf_dir, "events")
          .select("event_type", "ts", "event_id")
          .withColumn("rn", F.row_number().over(
              Window.partitionBy("event_type")
              .orderBy("ts", "event_id")))
          .select("event_type", "rn",
                  (F.col("rn") * _CB_ARR_STEP).cast("long").alias("arr"),
                  F.expr("1 + CAST(conv(substr(md5(concat('cb:',"
                         f" CAST(event_id AS STRING))), 1, 12), 16, 10)"
                         f" AS BIGINT) % {_CB_LEN_MOD}").alias("len")))
    B = _CB_SLOTS
    reqs = (ev.groupBy("event_type")
            .agg(F.sort_array(F.collect_list(F.struct(
                     "rn", "arr", "len"))).alias("xs"),
                 F.count(F.lit(1)).cast("long").alias("n")))
    # continuous: acc = [total_wait, slot_1..slot_B finish times]
    cont = F.expr(f"""
      element_at(aggregate(xs,
        array_repeat(CAST(0 AS BIGINT), {B + 1}),
        (acc, x) -> concat(
          array(element_at(acc, 1)
                + greatest(x.arr, array_min(slice(acc, 2, {B})))
                - x.arr),
          transform(sequence(1, {B}), i ->
            CASE WHEN i = array_position(slice(acc, 2, {B}),
                                         array_min(slice(acc, 2, {B})))
                 THEN greatest(x.arr, array_min(slice(acc, 2, {B})))
                      + x.len
                 ELSE element_at(acc, i + 1) END))), 1)
    """)
    # static: batch rows (max_arr, sum_arr, n, max_len) in batch order;
    # acc = [total_wait, prev_finish]
    batches = (ev.withColumn("b", F.expr(f"(rn - 1) div {B}"))
               .groupBy("event_type", "b")
               .agg(F.max("arr").alias("ma"),
                    F.sum("arr").alias("sa"),
                    F.count(F.lit(1)).cast("long").alias("nb"),
                    F.max("len").alias("ml"))
               .groupBy("event_type")
               .agg(F.sort_array(F.collect_list(F.struct(
                        "b", "ma", "sa", "nb", "ml"))).alias("bs")))
    stat = F.expr("""
      element_at(aggregate(bs,
        array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (acc, x) -> array(
          element_at(acc, 1)
          + x.nb * greatest(x.ma, element_at(acc, 2)) - x.sa,
          greatest(x.ma, element_at(acc, 2)) + x.ml)), 1)
    """)
    return (reqs.withColumn("cont_total_wait", cont)
            .join(batches.withColumn("static_total_wait", stat)
                  .select("event_type", "static_total_wait"),
                  "event_type")
            .select("event_type", F.col("n").alias("n_requests"),
                    "cont_total_wait", "static_total_wait",
                    F.expr("(10000 * cont_total_wait) div n")
                     .alias("cont_mean_wait_e4"),
                    F.expr("(10000 * static_total_wait) div n")
                     .alias("static_mean_wait_e4"),
                    F.expr("(10000 * static_total_wait)"
                           " div greatest(cont_total_wait, 1)")
                     .alias("speedup_e4")))


def _cb_sql() -> str:
    B = _CB_SLOTS
    zeros = ", ".join(["CAST(0 AS BIGINT)"] * (B + 1))
    return rf"""
WITH ev AS (
    SELECT event_type,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY ts, event_id) AS rn,
           event_id
    FROM events
),
req AS (
    SELECT event_type, rn,
           CAST(rn * {_CB_ARR_STEP} AS BIGINT) AS arr,
           1 + CAST('0x' || substr(md5('cb:' ||
               CAST(event_id AS VARCHAR)), 1, 12) AS BIGINT)
               % {_CB_LEN_MOD} AS len
    FROM ev
),
streams AS (
    SELECT event_type,
           list_sort(list([rn, arr, len])) AS xs,
           CAST(count(*) AS BIGINT) AS n
    FROM req GROUP BY event_type
),
cont AS (
    SELECT event_type, n,
           list_reduce(
             list_prepend([{zeros}],
                          list_transform(xs, x -> [x[2], x[3]])),
             (acc, e) -> list_prepend(
               acc[1] + greatest(e[1], list_min(acc[2:])) - e[1],
               list_transform(range(1, {B} + 1), i ->
                 CASE WHEN i = list_position(acc[2:],
                                             list_min(acc[2:]))
                      THEN greatest(e[1], list_min(acc[2:])) + e[2]
                      ELSE acc[i + 1] END)))[1] AS cont_total_wait
    FROM streams
),
bat AS (
    SELECT event_type, (rn - 1) // {B} AS b,
           CAST(max(arr) AS BIGINT) AS ma,
           CAST(sum(arr) AS BIGINT) AS sa,
           CAST(count(*) AS BIGINT) AS nb,
           CAST(max(len) AS BIGINT) AS ml
    FROM req GROUP BY 1, 2
),
bstreams AS (
    SELECT event_type,
           list_sort(list([b, ma, sa, nb, ml])) AS bs
    FROM bat GROUP BY event_type
),
stat AS (
    SELECT event_type,
           list_reduce(
             list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                          list_transform(bs, x ->
                              [x[2], x[3], x[4], x[5]])),
             (acc, e) -> [
               acc[1] + e[3] * greatest(e[1], acc[2]) - e[2],
               greatest(e[1], acc[2]) + e[4]])[1] AS static_total_wait
    FROM bstreams
)
SELECT c.event_type, c.n AS n_requests, c.cont_total_wait,
       s.static_total_wait,
       (10000 * c.cont_total_wait) // c.n AS cont_mean_wait_e4,
       (10000 * s.static_total_wait) // c.n AS static_mean_wait_e4,
       (10000 * s.static_total_wait)
           // greatest(c.cont_total_wait, 1) AS speedup_e4
FROM cont c JOIN stat s USING (event_type)
"""


QUERIES["continuous_batching_replay"] = (continuous_batching_replay,
                                         _cb_sql())
