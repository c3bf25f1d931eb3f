"""Sample weighting, privacy, and robust-estimation operators (round 9).

Training-data pipelines re-weight, de-identify, and sanity-check their
samples before anything reaches a model; this module adds the three
classical instruments not yet in the registry (k-anonymity and the
Hill tail index were checked and already exist — dq_queries /
inference_queries):

- ``raking_ipf_weights``     — iterative proportional fitting (survey
  raking) of per-cell weights to uniform segment × nation margins —
  the domain-mixture calibration step, in exact e6 fixed point.
- ``kalman_filter_1d``       — 1-D Kalman filter over the daily mean
  spend series (integer fixed-point gain recursion — the streaming
  state-estimation primitive).
- ``jackknife_nation_means`` — leave-one-nation-out jackknife of the
  mean balance (group-level stability of a global estimate).

Reference scope: beyond-reference analytics surface; no file:line
parity citations apply.

Determinism: every recursion is an integer fold (small-denominator
rationals; LIST accumulators only); moments are exact integers; there is
no libm call anywhere in the module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, persist

QUERIES: dict = {}


_BAL_C = "cast(round(c_acctbal * 100, 0) as bigint)"
_BAL_C_DUCK = "CAST(round(c_acctbal * 100, 0) AS BIGINT)"


# ---------------------------------------------------------------------------
# raking_ipf_weights
# ---------------------------------------------------------------------------
_IPF_ROUNDS = 2  # full (segment, nation) sweeps


def _raking_ipf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking / IPF: calibrate per-(segment, nation) cell
    weights so weighted counts match UNIFORM targets on both margins
    (total div 5 per segment, total div 25 per nation) — the classic
    post-stratification / training-mixture calibration step. 2 full
    sweeps; weights live in e6 fixed point and every scale factor is
    the exact integer quotient (target·1e12) div margin_sum, so the
    trajectory is bit-identical across engines by construction.

    Scale: ONE corpus shuffle builds the ≤125-cell table (persisted —
    4 margin steps reuse it; released via tables.release); every
    sweep is a groupBy + broadcast join on that bounded table. At
    100 TB only the first aggregate grows; the IPF loop cost is fixed
    by the margin cardinalities.
    """
    cells = persist(load(spark, sf_dir, "customer")
                    .groupBy(F.col("c_mktsegment").alias("seg"),
                             F.col("c_nationkey").alias("nat"))
                    .agg(F.count(F.lit(1)).alias("cnt")))
    total = cells.agg(F.sum("cnt").alias("t"))
    w = (cells.crossJoin(F.broadcast(total))
         .select("seg", "nat", "cnt", "t",
                 F.lit(1000000).cast("long").alias("w")))
    for _ in range(_IPF_ROUNDS):
        for margin, card in (("seg", 5), ("nat", 25)):
            msum = (w.groupBy(margin)
                    .agg(F.sum(F.col("w") * F.col("cnt")).alias("msum")))
            w = (w.join(F.broadcast(msum), margin)
                 .select("seg", "nat", "cnt", "t",
                         F.expr(f"(w * (((t div {card}) * 1000000000000)"
                                " div msum)) div 1000000")
                          .cast("long").alias("w")))
    return w.select("seg", "nat", "cnt", F.col("w").alias("w_e6"))


def _ipf_sql() -> str:
    prev = "w0"
    ctes = [f"""cells AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat, count(*) AS cnt
  FROM customer GROUP BY 1, 2
)""", """tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM cells)""",
            """w0 AS (
  SELECT seg, nat, cnt, t, CAST(1000000 AS BIGINT) AS w
  FROM cells, tot
)"""]
    i = 0
    for _ in range(_IPF_ROUNDS):
        for margin, card in (("seg", 5), ("nat", 25)):
            i += 1
            ctes.append(f"""m{i} AS (
  SELECT {margin}, CAST(sum(w * cnt) AS BIGINT) AS msum
  FROM {prev} GROUP BY 1
)""")
            ctes.append(f"""w{i} AS (
  SELECT p.seg, p.nat, p.cnt, p.t,
         (p.w * (((p.t // {card}) * 1000000000000) // m.msum)) // 1000000
           AS w
  FROM {prev} p JOIN m{i} m USING ({margin})
)""")
            prev = f"w{i}"
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT seg, nat, cnt, w AS w_e6 FROM {prev}")


QUERIES["raking_ipf_weights"] = (_raking_ipf_weights, _ipf_sql())


# ---------------------------------------------------------------------------
# kalman_filter_1d
# ---------------------------------------------------------------------------
_KF_Q_E3 = 10_000      # process noise (cents², e3)
_KF_R_E3 = 1_000_000   # observation noise (cents², e3)


def _kalman_filter_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Kalman filter over the daily mean spend series (z_d = mean
    event-value cents per epoch day, integer). State x and covariance
    P live in e3 fixed point; per day: P⁺ = P + Q,
    K_e6 = (P⁺·1e6) div (P⁺+R), x ← x + (K·innov) div 1e6,
    P ← ((1e6−K)·P⁺) div 1e6 — every quotient an integer division
    (truncation matches across engines on the signed innovation term,
    measured r8). Initialized at the first observation with P = R.
    Output: final state, final covariance, Σ|innovation| — the
    steady-state smoother a metrics pipeline runs per series.

    Fold shape: single LIST accumulator [started, x, P, Σ|innov|]
    (1-based in DuckDB; elements wrapped as 1-element lists per the
    CLAUDE.md list_reduce rule) — the verified-safe shape for coupled
    recurrences.

    Scale: one keyed shuffle to the bounded day table; the fold runs
    over the day spine (calendar-bounded), fed by an aggregate —
    passes the mechanical bounded-feeder gate.
    """
    q, r = _KF_Q_E3, _KF_R_E3
    day = (load(spark, sf_dir, "events")
           .select(F.expr("unix_micros(cast(ts as timestamp))"
                          " div 86400000000").alias("d"),
                   F.expr("cast(round(value * 100, 0) as bigint)")
                    .alias("c"))
           .groupBy("d")
           .agg(F.expr("sum(c) div count(1)").alias("z")))
    step = f"""
      aggregate(
        sort_array(collect_list(struct(d, z))),
        array(cast(0 as bigint), cast(0 as bigint), cast(0 as bigint),
              cast(0 as bigint)),
        (acc, e) -> CASE WHEN acc[0] = 0
          THEN array(cast(1 as bigint), e.z * 1000, cast({r} as bigint),
                     cast(0 as bigint))
          ELSE array(
            cast(1 as bigint),
            acc[1] + (((acc[2] + {q}) * 1000000) div (acc[2] + {q} + {r}))
                     * (e.z * 1000 - acc[1]) div 1000000,
            ((1000000 - ((acc[2] + {q}) * 1000000)
                        div (acc[2] + {q} + {r})) * (acc[2] + {q}))
              div 1000000,
            acc[3] + abs(e.z * 1000 - acc[1]))
          END)
    """
    return (day.agg(F.count(F.lit(1)).cast("long").alias("n_days"),
                    F.expr(step).alias("s"))
            .select("n_days",
                    F.expr("s[1]").alias("x_e3"),
                    F.expr("s[2]").alias("p_e3"),
                    F.expr("s[3]").alias("sum_abs_innov_e3")))


_KALMAN_SQL = f"""
WITH day AS (
  SELECT epoch_us(ts) // 86400000000 AS d,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           // count(*) AS z
  FROM events GROUP BY 1
),
folded AS (
  SELECT count(*) AS n_days,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                         CAST(0 AS BIGINT), CAST(0 AS BIGINT)],
                        list([z] ORDER BY d)),
           (acc, e) -> CASE WHEN acc[1] = 0
             THEN [CAST(1 AS BIGINT), e[1] * 1000,
                   CAST({_KF_R_E3} AS BIGINT), CAST(0 AS BIGINT)]
             ELSE [
               CAST(1 AS BIGINT),
               acc[2] + (((acc[3] + {_KF_Q_E3}) * 1000000)
                         // (acc[3] + {_KF_Q_E3} + {_KF_R_E3}))
                        * (e[1] * 1000 - acc[2]) // 1000000,
               ((1000000 - ((acc[3] + {_KF_Q_E3}) * 1000000)
                           // (acc[3] + {_KF_Q_E3} + {_KF_R_E3}))
                 * (acc[3] + {_KF_Q_E3})) // 1000000,
               acc[4] + abs(e[1] * 1000 - acc[2])]
             END) AS s
  FROM day
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       s[2] AS x_e3, s[3] AS p_e3, s[4] AS sum_abs_innov_e3
FROM folded
"""

QUERIES["kalman_filter_1d"] = (_kalman_filter_1d, _KALMAN_SQL)


# ---------------------------------------------------------------------------
# jackknife_nation_means
# ---------------------------------------------------------------------------

def _jackknife_nation_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-NATION-out jackknife of the global mean balance:
    θ₍ᵢ₎ = (S − sᵢ)/(N − nᵢ) per nation at e3 (integer division —
    balances can be negative; truncation toward zero matches across
    engines, measured r8), jackknife variance
    (g−1)/g · Σ(θᵢ − θ̄)² over the g = 25 replicates. Group-level
    influence of each nation on the global estimate — the delete-a-
    group stability check a metrics platform runs before trusting a
    mean.

    Scale: one keyed shuffle to 25 nation sums + one broadcast of the
    1-row global sums; replicate algebra runs on the bounded panel.
    """
    cust = load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nat"), F.expr(_BAL_C).alias("bc"))
    per_nat = cust.groupBy("nat").agg(
        F.sum("bc").alias("si"), F.count(F.lit(1)).alias("ni"))
    tot = cust.agg(F.sum("bc").alias("s"),
                   F.count(F.lit(1)).alias("n"))
    reps = (per_nat.crossJoin(F.broadcast(tot))
            .select("nat", "s", "n",
                    F.expr("(1000 * (s - si)) div (n - ni)")
                     .alias("th_i")))
    base = reps.agg(
        F.count(F.lit(1)).alias("g"),
        F.sum("th_i").alias("sth"),
        F.min(F.expr("(1000 * s) div n")).alias("theta_e3"))
    dev = (reps.crossJoin(F.broadcast(base))
           .select("g", "theta_e3",
                   F.expr("sth div g").alias("theta_jk_e3"),
                   (F.col("th_i") - F.expr("sth div g")).alias("dv")))
    return (dev.groupBy("g", "theta_e3", "theta_jk_e3")
            .agg(F.expr("((g - 1) * sum(dv * dv)) div g")
                 .alias("jk_var_e6"))
            .select(F.col("g").cast("long").alias("n_nations"),
                    "theta_e3", "theta_jk_e3", "jk_var_e6"))


_JK_SQL = f"""
WITH cust AS (
  SELECT c_nationkey AS nat, {_BAL_C_DUCK} AS bc FROM customer
),
per_nat AS (
  SELECT nat, CAST(sum(bc) AS BIGINT) AS si, count(*) AS ni
  FROM cust GROUP BY 1
),
tot AS (
  SELECT CAST(sum(bc) AS BIGINT) AS s, count(*) AS n FROM cust
),
reps AS (
  SELECT nat, t.s, t.n, (1000 * (t.s - si)) // (t.n - ni) AS th_i
  FROM per_nat, tot t
),
base AS (
  SELECT count(*) AS g, CAST(sum(th_i) AS BIGINT) AS sth,
         min((1000 * s) // n) AS theta_e3
  FROM reps
),
dev AS (
  SELECT b.g, b.theta_e3, b.sth // b.g AS theta_jk_e3,
         r.th_i - b.sth // b.g AS dv
  FROM reps r, base b
)
SELECT CAST(g AS BIGINT) AS n_nations, theta_e3, theta_jk_e3,
       ((g - 1) * CAST(sum(dv * dv) AS BIGINT)) // g AS jk_var_e6
FROM dev GROUP BY g, theta_e3, theta_jk_e3
"""

QUERIES["jackknife_nation_means"] = (_jackknife_nation_means, _JK_SQL)


# ---------------------------------------------------------------------------
# covariate_balance_smd
# ---------------------------------------------------------------------------
_SMD_TREAT_ORDERS = 5  # treated = customers with >= 5 orders


def _covariate_balance_smd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariate-balance audit (the first table of any causal study):
    treated = customers with ≥{_SMD_TREAT_ORDERS} orders; per numeric
    covariate (account balance, total spend), the standardized mean
    difference SMD = (μ₁−μ₀)/sqrt((v₁+v₀)/2). Means are exact integer
    quotients (e3); variances are Σd² about the per-group INTEGER mean
    (two-phase: exact group means, then exact centered squares — no
    float aggregation), and the final SMD is one double expression
    over exact integers, floored at e6.

    Scale: one orders aggregate (keyed shuffle) left-joined to the
    customer scan; per-covariate moments are two map-side-combinable
    passes over the 2-group split; output is 2 rows.
    """
    oc = (load(spark, sf_dir, "orders")
          .groupBy(F.col("o_custkey").alias("ck"))
          .agg(F.count(F.lit(1)).alias("no"),
               F.sum(F.expr("cast(round(o_totalprice * 100, 0)"
                            " as bigint) div 100")).alias("spend_u")))
    cust = (load(spark, sf_dir, "customer")
            .select(F.col("c_custkey").alias("ck"),
                    F.expr(f"({_BAL_C}) div 100").alias("bal_u"))
            .join(oc, "ck", "left")
            .select("bal_u",
                    F.coalesce("spend_u", F.lit(0)).alias("spend_u"),
                    F.expr(f"CASE WHEN coalesce(no, 0) >="
                           f" {_SMD_TREAT_ORDERS} THEN 1 ELSE 0 END")
                     .alias("t")))
    long = cust.selectExpr(
        "stack(2, 'bal', bal_u, 'spend', spend_u)"
        " as (covariate, v)", "t")
    mu = (long.groupBy("covariate", "t")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
          .select("covariate", "t", "n", "s",
                  F.expr("s div n").alias("mu")))
    mom = (long.join(F.broadcast(mu), ["covariate", "t"])
           .groupBy("covariate", "t")
           .agg(F.min("n").alias("n"), F.min("mu").alias("mu"),
                F.sum(F.expr("(v - mu) * (v - mu)")).alias("sd2")))
    piv = (mom.groupBy("covariate")
           .agg(F.min(F.expr("CASE WHEN t = 1 THEN n END")).alias("n1"),
                F.min(F.expr("CASE WHEN t = 0 THEN n END")).alias("n0"),
                F.min(F.expr("CASE WHEN t = 1 THEN mu END")).alias("mu1"),
                F.min(F.expr("CASE WHEN t = 0 THEN mu END")).alias("mu0"),
                F.min(F.expr("CASE WHEN t = 1 THEN sd2 END")).alias("v1"),
                F.min(F.expr("CASE WHEN t = 0 THEN sd2 END")).alias("v0")))
    smd = ("cast(floor(1000000 * (cast(mu1 - mu0 as double))"
           " / sqrt((cast(v1 as double) / (n1 - 1)"
           " + cast(v0 as double) / (n0 - 1)) / 2)) as bigint)")
    return piv.select("covariate", F.col("n1").cast("long").alias("n1"),
                      F.col("n0").cast("long").alias("n0"),
                      F.col("mu1").cast("long").alias("mu1_u"),
                      F.col("mu0").cast("long").alias("mu0_u"),
                      F.expr(smd).alias("smd_e6"))


_SMD_SQL = f"""
WITH oc AS (
  SELECT o_custkey AS ck, count(*) AS no,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT) // 100)
              AS BIGINT) AS spend_u
  FROM orders GROUP BY 1
),
cust AS (
  SELECT {_BAL_C_DUCK} // 100 AS bal_u,
         coalesce(o.spend_u, 0) AS spend_u,
         CASE WHEN coalesce(o.no, 0) >= {_SMD_TREAT_ORDERS}
              THEN 1 ELSE 0 END AS t
  FROM customer c LEFT JOIN oc o ON c.c_custkey = o.ck
),
long AS (
  SELECT 'bal' AS covariate, bal_u AS v, t FROM cust
  UNION ALL
  SELECT 'spend' AS covariate, spend_u AS v, t FROM cust
),
mu AS (
  SELECT covariate, t, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
         CAST(sum(v) AS BIGINT) // count(*) AS mu
  FROM long GROUP BY 1, 2
),
mom AS (
  SELECT l.covariate, l.t, min(m.n) AS n, min(m.mu) AS mu,
         CAST(sum((l.v - m.mu) * (l.v - m.mu)) AS BIGINT) AS sd2
  FROM long l JOIN mu m ON l.covariate = m.covariate AND l.t = m.t
  GROUP BY 1, 2
),
piv AS (
  SELECT covariate,
         min(CASE WHEN t = 1 THEN n END) AS n1,
         min(CASE WHEN t = 0 THEN n END) AS n0,
         min(CASE WHEN t = 1 THEN mu END) AS mu1,
         min(CASE WHEN t = 0 THEN mu END) AS mu0,
         min(CASE WHEN t = 1 THEN sd2 END) AS v1,
         min(CASE WHEN t = 0 THEN sd2 END) AS v0
  FROM mom GROUP BY covariate
)
SELECT covariate, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
       CAST(mu1 AS BIGINT) AS mu1_u, CAST(mu0 AS BIGINT) AS mu0_u,
       CAST(floor(1000000 * (CAST(mu1 - mu0 AS DOUBLE))
            / sqrt((CAST(v1 AS DOUBLE) / (n1 - 1)
                    + CAST(v0 AS DOUBLE) / (n0 - 1)) / 2)) AS BIGINT)
         AS smd_e6
FROM piv
"""

QUERIES["covariate_balance_smd"] = (_covariate_balance_smd, _SMD_SQL)


# ---------------------------------------------------------------------------
# skewness_kurtosis_profile
# ---------------------------------------------------------------------------

def _skewness_kurtosis_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shape profile per event type: skewness and excess
    kurtosis from moments about the per-group INTEGER mean (two exact
    passes — group means, then Σd², Σd³, Σd⁴ over centered integers).
    Values quantize to WHOLE currency units (cents div 100) so
    d⁴ ≤ 10¹² stays int64 through ~10⁶ rows/group;
    wider corpora switch the sums to DECIMAL, noted for the scale
    audit). skew = √n·Σd³/(Σd²)^1.5 and kurt = n·Σd⁴/(Σd²)² − 3 are
    each ONE double expression over exact integers (sqrt only — no
    libm divergence surface), floored at e6.

    Scale: two keyed shuffles to the 5-type moment table; everything
    map-side combinable.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("cast(round(value * 100, 0) as bigint) div 100").alias("v"))
    mu = (ev.groupBy("event_type")
          .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
          .select("event_type", "n", F.expr("s div n").alias("mu")))
    mom = (ev.join(F.broadcast(mu), "event_type")
           .select("event_type", "n", (F.col("v") - F.col("mu")).alias("d"))
           .groupBy("event_type")
           .agg(F.min("n").alias("n"),
                F.sum(F.expr("d * d")).alias("s2"),
                F.sum(F.expr("d * d * d")).alias("s3"),
                F.sum(F.expr("d * d * d * d")).alias("s4")))
    return mom.select(
        "event_type", F.col("n").cast("long").alias("n"),
        F.expr("cast(floor(1000000 * sqrt(cast(n as double))"
               " * s3 / (cast(s2 as double) * sqrt(cast(s2 as double))))"
               " as bigint)").alias("skew_e6"),
        F.expr("cast(floor(1000000 * cast(n as double) * s4"
               " / (cast(s2 as double) * cast(s2 as double))"
               " - 3000000) as bigint)").alias("ex_kurtosis_e6"))


_SKEW_SQL = """
WITH ev AS (
  SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) // 100 AS v
  FROM events
),
mu AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(v) AS BIGINT) // count(*) AS mu
  FROM ev GROUP BY 1
),
mom AS (
  SELECT e.event_type, min(m.n) AS n,
         CAST(sum((e.v - m.mu) * (e.v - m.mu)) AS BIGINT) AS s2,
         CAST(sum((e.v - m.mu) * (e.v - m.mu) * (e.v - m.mu))
              AS BIGINT) AS s3,
         CAST(sum((e.v - m.mu) * (e.v - m.mu) * (e.v - m.mu)
                  * (e.v - m.mu)) AS BIGINT) AS s4
  FROM ev e JOIN mu m USING (event_type)
  GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(floor(1000000 * sqrt(CAST(n AS DOUBLE)) * s3
            / (CAST(s2 AS DOUBLE) * sqrt(CAST(s2 AS DOUBLE))))
            AS BIGINT) AS skew_e6,
       CAST(floor(1000000 * CAST(n AS DOUBLE) * s4
            / (CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) - 3000000)
            AS BIGINT) AS ex_kurtosis_e6
FROM mom
"""

QUERIES["skewness_kurtosis_profile"] = (_skewness_kurtosis_profile,
                                        _SKEW_SQL)


# ---------------------------------------------------------------------------
# ltv_cohort_projection
# ---------------------------------------------------------------------------
_LTV_DECAY_CAP_E6 = 950_000  # clamp the projected retention ratio


def _ltv_cohort_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV: customers cohort by first-order 30-day bucket;
    observed revenue-per-user accrues by cohort age, and the tail
    beyond the observation window projects geometrically with decay =
    rpu_last/rpu_prev (e6 integer ratio, clamped at
    {_LTV_DECAY_CAP_E6/1e6} — the standard guard against a noisy last
    month), tail = rpu_last·decay/(1e6−decay). Everything is exact
    integer arithmetic on cents; ages and cohorts come from epoch-day
    division.

    Scale: one orders shuffle to (customer → cohort), one to
    (cohort, age) revenue cells (calendar-bounded), then bounded-panel
    algebra. Output: one row per cohort.
    """
    od = (load(spark, sf_dir, "orders")
          .select(F.col("o_custkey").alias("ck"),
                  F.expr("unix_micros(cast(o_orderdate as timestamp))"
                         " div 86400000000 div 30").alias("m"),
                  F.expr("cast(round(o_totalprice * 100, 0) as bigint)")
                   .alias("rev_c")))
    first = od.groupBy("ck").agg(F.min("m").alias("cohort"))
    cells = (od.join(first, "ck")
             .groupBy("cohort", (F.col("m") - F.col("cohort")).alias("age"))
             .agg(F.sum("rev_c").alias("rev_c")))
    users = first.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n_users"))
    rpu = (cells.join(users, "cohort")
           .select("cohort", "age", "n_users",
                   F.expr("rev_c div n_users").alias("rpu_c")))
    last = rpu.groupBy("cohort").agg(F.max("age").alias("la"),
                                     F.min("n_users").alias("n_users"),
                                     F.sum("rpu_c").alias("obs_c"))
    lastv = (rpu.select("cohort", "age", "rpu_c").join(last, "cohort")
             .groupBy("cohort", "la", "n_users", "obs_c")
             .agg(F.sum(F.expr("CASE WHEN age = la THEN rpu_c ELSE 0 END"))
                   .alias("r_last"),
                  F.sum(F.expr("CASE WHEN age = la - 1 THEN rpu_c"
                               " ELSE 0 END")).alias("r_prev")))
    decay = (f"least(cast({_LTV_DECAY_CAP_E6} as bigint),"
             " CASE WHEN la >= 1 AND r_prev > 0"
             " THEN (1000000 * r_last) div r_prev ELSE 0 END)")
    return lastv.select(
        "cohort", F.col("n_users").cast("long").alias("n_users"),
        F.col("obs_c").cast("long").alias("observed_rpu_c"),
        F.expr(decay).alias("decay_e6"),
        (F.col("obs_c") + F.expr(f"(r_last * {decay})"
                                 f" div (1000000 - {decay})"))
         .cast("long").alias("ltv_proj_rpu_c"))


_LTV_SQL = f"""
WITH od AS (
  SELECT o_custkey AS ck,
         epoch_us(o_orderdate) // 86400000000 // 30 AS m,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS rev_c
  FROM orders
),
first AS (
  SELECT ck, min(m) AS cohort FROM od GROUP BY 1
),
cells AS (
  SELECT f.cohort, o.m - f.cohort AS age,
         CAST(sum(o.rev_c) AS BIGINT) AS rev_c
  FROM od o JOIN first f USING (ck)
  GROUP BY 1, 2
),
users AS (
  SELECT cohort, count(*) AS n_users FROM first GROUP BY 1
),
rpu AS (
  SELECT c.cohort, c.age, u.n_users, c.rev_c // u.n_users AS rpu_c
  FROM cells c JOIN users u USING (cohort)
),
last AS (
  SELECT cohort, max(age) AS la, min(n_users) AS n_users,
         CAST(sum(rpu_c) AS BIGINT) AS obs_c
  FROM rpu GROUP BY 1
),
lastv AS (
  SELECT r.cohort, l.la, l.n_users, l.obs_c,
         CAST(sum(CASE WHEN r.age = l.la THEN r.rpu_c ELSE 0 END)
              AS BIGINT) AS r_last,
         CAST(sum(CASE WHEN r.age = l.la - 1 THEN r.rpu_c ELSE 0 END)
              AS BIGINT) AS r_prev
  FROM rpu r JOIN last l USING (cohort)
  GROUP BY 1, 2, 3, 4
),
dec AS (
  SELECT cohort, n_users, obs_c, r_last,
         least(CAST({_LTV_DECAY_CAP_E6} AS BIGINT),
               CASE WHEN la >= 1 AND r_prev > 0
                    THEN (1000000 * r_last) // r_prev ELSE 0 END)
           AS decay_e6
  FROM lastv
)
SELECT cohort, CAST(n_users AS BIGINT) AS n_users,
       obs_c AS observed_rpu_c, decay_e6,
       CAST(obs_c + (r_last * decay_e6) // (1000000 - decay_e6)
            AS BIGINT) AS ltv_proj_rpu_c
FROM dec
"""

QUERIES["ltv_cohort_projection"] = (_ltv_cohort_projection, _LTV_SQL)


# ---------------------------------------------------------------------------
# median_polish_residuals
# ---------------------------------------------------------------------------
_MP_SWEEPS = 2


def _median_polish_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey median polish of the segment × nation mean-balance table:
    {_MP_SWEEPS} alternating sweeps subtract the LOWER median (an
    actual table element — exact integers, no midpoint averaging) of
    each row then each column; the surviving residuals are the
    interaction structure row/column effects can't explain — the
    robust two-way-table outlier scan. Cell value = mean balance in
    whole currency units (integer quotient).

    Scale: one corpus shuffle to the ≤125-cell table (persisted, 4
    median steps reuse it; released via tables.release); each sweep
    is a bounded groupBy + broadcast join. Output: the full polished
    table.
    """
    cells = persist(load(spark, sf_dir, "customer")
                    .groupBy(F.col("c_mktsegment").alias("seg"),
                             F.col("c_nationkey").alias("nat"))
                    .agg(F.expr(f"sum(({_BAL_C}) div 100) div count(1)")
                         .alias("v")))
    lower_med = ("element_at(array_sort(collect_list(r)),"
                 " cast((count(1) + 1) div 2 as int))")
    r = cells.select("seg", "nat", "v", F.col("v").alias("r"))
    for _ in range(_MP_SWEEPS):
        for dim in ("seg", "nat"):
            med = r.groupBy(dim).agg(F.expr(lower_med).alias("m"))
            r = (r.join(F.broadcast(med), dim)
                 .select("seg", "nat", "v",
                         (F.col("r") - F.col("m")).alias("r")))
    return r.select("seg", "nat", F.col("v").alias("mean_bal_u"),
                    F.col("r").alias("residual_u"))


def _median_polish_sql() -> str:
    ctes = [f"""r0 AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CAST(sum({_BAL_C_DUCK} // 100) AS BIGINT) // count(*) AS v,
         CAST(sum({_BAL_C_DUCK} // 100) AS BIGINT) // count(*) AS r
  FROM customer GROUP BY 1, 2
)"""]
    prev = "r0"
    i = 0
    for _ in range(_MP_SWEEPS):
        for dim in ("seg", "nat"):
            i += 1
            ctes.append(f"""m{i} AS (
  SELECT {dim}, (list_sort(list(r)))[(count(*) + 1) // 2] AS m
  FROM {prev} GROUP BY 1
)""")
            ctes.append(f"""r{i} AS (
  SELECT p.seg, p.nat, p.v, p.r - m.m AS r
  FROM {prev} p JOIN m{i} m USING ({dim})
)""")
            prev = f"r{i}"
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT seg, nat, v AS mean_bal_u, r AS residual_u"
              f" FROM {prev}")


QUERIES["median_polish_residuals"] = (_median_polish_residuals,
                                      _median_polish_sql())


# ---------------------------------------------------------------------------
# mean_excess_curve
# ---------------------------------------------------------------------------
_MEC_SIXTEENTHS = (8, 10, 12, 14)  # thresholds as k/16 of the max


def _mean_excess_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-excess (mean-residual-life) curve — the EVT diagnostic that
    decides whether a spend tail is generalized-Pareto (linear e(u)),
    exponential (flat), or bounded (decreasing): for thresholds
    u = k/16 of the observed max price (data-derived, the CLAUDE.md
    derive-from-data rule), e(u) = mean of (x − u | x > u) as an exact
    integer quotient, with the exceedance count. The companion
    estimator to ``hill_tail_index``.

    Scale: one 1-row max aggregate broadcast onto the scan, a constant
    ×{len(_MEC_SIXTEENTHS)} threshold explode, one map-side-combinable
    aggregate; bounded output.
    """
    ks = ", ".join(str(k) for k in _MEC_SIXTEENTHS)
    mx = (load(spark, sf_dir, "orders")
          .agg(F.expr("max(cast(round(o_totalprice * 100, 0) as bigint))")
               .alias("mx")))
    d = (load(spark, sf_dir, "orders")
         .select(F.expr("cast(round(o_totalprice * 100, 0) as bigint)")
                 .alias("c"))
         .crossJoin(F.broadcast(mx))
         .select("c", F.explode(F.expr(f"array({ks})")).alias("k"),
                 "mx")
         .select("c", "k", F.expr("(mx * k) div 16").alias("u")))
    return (d.groupBy("k", "u")
            .agg(F.sum(F.expr("CASE WHEN c > u THEN 1 ELSE 0 END"))
                  .cast("long").alias("n_exceed"),
                 F.expr("CASE WHEN sum(CASE WHEN c > u THEN 1 ELSE 0 END)"
                        " > 0 THEN sum(CASE WHEN c > u THEN c - u ELSE 0"
                        " END) div sum(CASE WHEN c > u THEN 1 ELSE 0 END)"
                        " ELSE 0 END").alias("mean_excess_c"))
            .select(F.col("k").cast("long").alias("k16"), "u",
                    "n_exceed", "mean_excess_c"))


_MEC_SQL = f"""
WITH mx AS (
  SELECT max(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS mx
  FROM orders
),
d AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c,
         unnest([{", ".join(str(k) for k in _MEC_SIXTEENTHS)}]) AS k,
         mx.mx AS mx
  FROM orders, mx
),
t AS (
  SELECT c, k, (mx * k) // 16 AS u FROM d
)
SELECT CAST(k AS BIGINT) AS k16, u,
       CAST(sum(CASE WHEN c > u THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed,
       CASE WHEN CAST(sum(CASE WHEN c > u THEN 1 ELSE 0 END) AS BIGINT) > 0
            THEN CAST(sum(CASE WHEN c > u THEN c - u ELSE 0 END) AS BIGINT)
                 // CAST(sum(CASE WHEN c > u THEN 1 ELSE 0 END) AS BIGINT)
            ELSE 0 END AS mean_excess_c
FROM t GROUP BY 1, 2
"""

QUERIES["mean_excess_curve"] = (_mean_excess_curve, _MEC_SQL)
