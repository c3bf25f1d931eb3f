"""Preference-data QA — the RLHF-side counterpart of the corpus
curation family (SURVEY.md §2.12 beyond-reference scope): given a
table of pairwise comparisons judged by multiple annotators, the
questions every preference-data pipeline must answer before training a
reward model are (a) what latent strengths explain the outcomes
(Bradley-Terry), (b) which pairwise win rates are statistically solid
(Wilson bounds), (c) do the annotators agree with each other (Cohen /
Fleiss kappa), (d) is the data biased toward longer responses or the
first-listed option, and (e) is the majority preference even
transitive. Each is an oracled query here.

Comparisons are SYNTHESIZED deterministically from ``documents``:
every even doc A meets opponent B = (A + 1 + md5_48('opp:'||A/2) %
243) mod (max(doc_id)+1) — a hash offset rather than the adjacent
doc, because sources cycle with doc_id, so adjacent pairing would
collapse the comparison graph to 10 fixed source pairs (disconnected
— Bradley-Terry degenerate, zero triangles). The modulus derives
from max(doc_id)+1 per the CLAUDE.md id-namespace rule. The 20
sources play the role of "models", and three annotators vote for
side A iff ``len_a + noise > len_b`` where noise is the repo's
canonical 48-bit md5 integer (same idiom as behavior_queries'
DP/sampling hashes) — pure int64 arithmetic, bit-identical across
engines, and correlated with a recoverable latent signal (mean
document length per source).

Cross-engine determinism:
- every count/margin is exact int64; ratio columns are either integer
  e6 divisions of positive ints (Spark ``div`` == DuckDB ``//`` on
  positives) or ``floor(1e6 * num/den)`` where num/den are exact
  int64 cast to DOUBLE — one correctly-rounded division, identical
  floor both engines (kappa can be negative: floor, never int-cast,
  per the CLAUDE.md CAST rule);
- the Wilson bound uses only +,-,*,/ and sqrt — all IEEE
  correctly-rounded (the walk-PMI ``ln`` hazard does not apply) — with
  the SAME expression string evaluated by both engines;
- Bradley-Terry runs in fixed-point e6 integer space: each
  minorization-maximization round is two positive integer floor
  divisions (term and update) plus a mean-1e6 renormalization, and the
  DuckDB oracle unrolls the identical rounds as CTEs (the clustering /
  graph-queries pattern).

Scale: the only full-corpus work is building comparisons (one
narrow self-join keyed on the opponent id — co-partitioned after a
single hash shuffle) and the map-side-combinable aggregation down to the
(model, model) win matrix / per-annotator margins. Everything
after that operates on ≤ |models|² rows: the BT rounds run
driver-paced on the collected win matrix (the BPE sanctioned
shape — an unrolled DataFrame lineage would double per round at
the normalizer fan-out), transitivity is a broadcast triple
self-join on ≤190 edges. At 100 TB the reduction happens in the
first aggregate; the iterative tail is O(models²) regardless of
corpus size. int64 headroom: BT scales wins by 1e12, so per-model
win counts are safe to ~9.2e6 games; past that drop SCALE to 1e10.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.tables import load, persist

QUERIES: dict = {}

_N_ANNOTATORS = 3
_BT_ROUNDS = 6
_BT_SCALE = 1_000_000_000_000  # e12: e6-strengths -> e6-scaled terms


def _noise_sql(cmp_id: str, h: str) -> str:
    """Annotator noise in [-30, 30]: canonical 48-bit md5 int mod 61.

    Shared sub-expression for both engines up to the hex-to-int cast,
    which each engine spells its own way (conv vs '0x' cast)."""
    key = f"'pref:' , cast({cmp_id} as string), ':', cast({h} as string)"
    return ("cast(conv(substr(md5(concat(" + key + ")), 1, 12), 16, 10)"
            " as bigint) % 61 - 30")


def _duck_noise_sql(cmp_id: str, h: str) -> str:
    key = (f"'pref:' || CAST({cmp_id} AS VARCHAR) || ':'"
           f" || CAST({h} AS VARCHAR)")
    return (f"CAST('0x' || substr(md5({key}), 1, 12) AS BIGINT)"
            " % 61 - 30")


_DUCK_BASE = f"""
lhs AS (
    SELECT doc_id // 2 AS cmp_id, doc_id, source, n_chars,
           (doc_id + 1 + CAST('0x' || substr(md5('opp:' ||
                CAST(doc_id // 2 AS VARCHAR)), 1, 12) AS BIGINT) % 243)
           % (SELECT max(doc_id) + 1 FROM documents) AS opp_id
    FROM documents WHERE doc_id % 2 = 0
),
pairs AS (
    SELECT a.cmp_id, a.source AS src_a, b.source AS src_b,
           a.n_chars AS len_a, b.n_chars AS len_b
    FROM lhs a JOIN documents b ON b.doc_id = a.opp_id
),
votes AS (
    SELECT p.cmp_id, p.src_a, p.src_b, p.len_a, p.len_b, h.h,
           CASE WHEN p.len_a + ({_duck_noise_sql('p.cmp_id', 'h.h')})
                     > p.len_b THEN 1 ELSE 0 END AS prefer_a
    FROM pairs p CROSS JOIN (SELECT unnest([0, 1, 2]) AS h) h
)
"""


def _pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source",
                                                "n_chars")
    nd = d.agg((F.max("doc_id") + 1).alias("n_docs"))
    opp = F.expr(
        "(doc_id + 1 + cast(conv(substr(md5(concat('opp:',"
        " cast(doc_id div 2 as string))), 1, 12), 16, 10) as bigint)"
        " % 243) % n_docs")
    a = (d.where(F.col("doc_id") % 2 == 0)
         .crossJoin(F.broadcast(nd))
         .select(F.expr("doc_id div 2").alias("cmp_id"),
                 opp.alias("opp_id"),
                 F.col("source").alias("src_a"),
                 F.col("n_chars").alias("len_a")))
    b = d.select(F.col("doc_id").alias("opp_id"),
                 F.col("source").alias("src_b"),
                 F.col("n_chars").alias("len_b"))
    return (a.join(b, "opp_id")
            .select("cmp_id", "src_a", "src_b", "len_a", "len_b"))


def _votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (comparison, annotator) with the integer vote."""
    hs = spark.range(_N_ANNOTATORS).select(F.col("id").cast("int")
                                           .alias("h"))
    prefer = F.expr(f"len_a + ({_noise_sql('cmp_id', 'h')}) > len_b")
    return (_pairs(spark, sf_dir).crossJoin(F.broadcast(hs))
            .withColumn("prefer_a", prefer.cast("int")))


def _flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-comparison annotator votes as three columns — computed
    inline on the pairs frame (no explode, no shuffle)."""
    p = _pairs(spark, sf_dir)
    for h in range(_N_ANNOTATORS):
        vote = F.expr(f"len_a + ({_noise_sql('cmp_id', str(h))}) > len_b")
        p = p.withColumn(f"p{h}", vote.cast("long"))
    return p


_DUCK_FLAGS = f"""
flags AS (
    SELECT cmp_id,
           CASE WHEN len_a + ({_duck_noise_sql('cmp_id', '0')}) > len_b
                THEN 1 ELSE 0 END AS p0,
           CASE WHEN len_a + ({_duck_noise_sql('cmp_id', '1')}) > len_b
                THEN 1 ELSE 0 END AS p1,
           CASE WHEN len_a + ({_duck_noise_sql('cmp_id', '2')}) > len_b
                THEN 1 ELSE 0 END AS p2
    FROM pairs
)
"""


# --------------------------------------------------------------------
# Bradley-Terry strength fitting (minorization-maximization rounds)
# --------------------------------------------------------------------

def bradley_terry_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latent model strengths from pairwise outcomes — the scoring
    model behind chatbot-arena-style leaderboards, fit EXACTLY with
    Hunter's MM iteration instead of gradient descent: s_i <-
    W_i / sum_j n_ij/(s_i+s_j), renormalized to mean 1e6 each round,
    all in positive-int64 floor arithmetic (Python // == Spark div ==
    DuckDB // on positives). Output one row per model: (model,
    n_games, wins, strength_e6, rank).

    Scale: the corpus collapses to a <=|models|^2 win matrix in ONE
    map-side-combinable aggregate; that matrix is collected once and
    the {_BT_ROUNDS} MM rounds run driver-side in exact integer
    arithmetic — the same sanctioned driver-paced shape as the BPE
    trainer (CLAUDE.md), and deliberately NOT unrolled as a DataFrame
    lineage: each round's normalizer fans the plan into two branches,
    so an unrolled tree grows 2^rounds copies of the base plan and
    Catalyst optimization time explodes long before execution does.
    At 100 TB the matrix is still |models|^2 rows; only the first
    aggregate touches the corpus. Headroom: W_i*1e12 is exact in
    Python ints regardless (no int64 ceiling on the driver).
    """
    v = _votes(spark, sf_dir).where(F.col("src_a") != F.col("src_b"))
    outcome = v.select(
        F.when(F.col("prefer_a") == 1, F.col("src_a"))
         .otherwise(F.col("src_b")).alias("winner"),
        F.when(F.col("prefer_a") == 1, F.col("src_b"))
         .otherwise(F.col("src_a")).alias("loser"))
    directed = (outcome.groupBy("winner", "loser")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect())  # <=|models|^2 aggregate rows (tiny)

    d: dict[tuple[str, str], int] = {(r["winner"], r["loser"]): r["n"]
                                     for r in directed}
    models = sorted({m for pair in d for m in pair})
    n_ij = {(i, j): d.get((i, j), 0) + d.get((j, i), 0)
            for i in models for j in models if i != j}
    opp = {m: [j for j in models if j != m and n_ij[(m, j)] > 0]
           for m in models}
    n_games = {m: sum(n_ij[(m, j)] for j in opp[m]) for m in models}
    wins = {m: sum(d.get((m, j), 0) for j in opp[m]) for m in models}

    s = {m: 1_000_000 for m in models}
    for _ in range(_BT_ROUNDS):
        t = {m: sum(n_ij[(m, j)] * _BT_SCALE
                    // max(s[m] + s[j], 1) for j in opp[m])
             for m in models}
        raw = {m: wins[m] * _BT_SCALE // max(t[m], 1) for m in models}
        tot = max(sum(raw.values()), 1)
        s = {m: raw[m] * len(models) * 1_000_000 // tot for m in models}

    ranked = sorted(models, key=lambda m: (-s[m], m))
    rows = [(m, n_games[m], wins[m], s[m], r + 1)
            for r, m in enumerate(ranked)]
    return spark.createDataFrame(
        rows, "model string, n_games long, wins long,"
              " strength_e6 long, rank int")


def _bt_sql() -> str:
    rounds = []
    prev = "s0"
    for r in range(1, _BT_ROUNDS + 1):
        rounds.append(f"""
t{r} AS MATERIALIZED (
    SELECT g.i,
           CAST(sum(g.n * {_BT_SCALE}
                    // greatest(si.s + sj.s, 1)) AS BIGINT) AS t_i
    FROM games g
    JOIN {prev} si ON g.i = si.i
    JOIN {prev} sj ON g.j = sj.i
    GROUP BY g.i
),
r{r} AS MATERIALIZED (
    SELECT w.i, w.w * {_BT_SCALE} // greatest(t.t_i, 1) AS s_raw
    FROM totals w JOIN t{r} t ON w.i = t.i
),
s{r} AS MATERIALIZED (
    SELECT i,
           CAST(s_raw * (SELECT count(*) FROM r{r}) * 1000000
                // greatest(CAST((SELECT sum(s_raw) FROM r{r})
                                 AS BIGINT), 1) AS BIGINT) AS s
    FROM r{r}
)""")
        prev = f"s{r}"
    return f"""
WITH {_DUCK_BASE.strip().rstrip()},
outcome AS (
    SELECT CASE WHEN prefer_a = 1 THEN src_a ELSE src_b END AS winner,
           CASE WHEN prefer_a = 1 THEN src_b ELSE src_a END AS loser
    FROM votes WHERE src_a != src_b
),
games AS MATERIALIZED (
    SELECT i, j, CAST(count(*) AS BIGINT) AS n
    FROM (SELECT winner AS i, loser AS j FROM outcome
          UNION ALL
          SELECT loser AS i, winner AS j FROM outcome)
    GROUP BY i, j
),
totals AS MATERIALIZED (
    SELECT g.i, CAST(sum(g.n) AS BIGINT) AS n_games,
           CAST(coalesce(max(w.w), 0) AS BIGINT) AS w
    FROM games g
    LEFT JOIN (SELECT winner AS i, CAST(count(*) AS BIGINT) AS w
               FROM outcome GROUP BY winner) w ON g.i = w.i
    GROUP BY g.i
),
s0 AS (SELECT i, CAST(1000000 AS BIGINT) AS s FROM totals),
{','.join(rounds)}
SELECT t.i AS model, t.n_games, t.w AS wins, f.s AS strength_e6,
       CAST(row_number() OVER (ORDER BY f.s DESC, t.i ASC) AS INT)
           AS rank
FROM totals t JOIN {prev} f ON t.i = f.i
"""


QUERIES["bradley_terry_strength"] = (bradley_terry_strength, _bt_sql())


# --------------------------------------------------------------------
# Pairwise win rates with Wilson lower bounds
# --------------------------------------------------------------------

# Same expression string evaluated by BOTH engines: only +,-,*,/ and
# sqrt on doubles (all IEEE correctly-rounded), z^2 spelled as
# 1.96*1.96 so each engine derives the identical double.
_WILSON = ("(p + (1.96*1.96)/(2.0*nn)"
           " - 1.96 * sqrt((p*(1.0-p) + (1.96*1.96)/(4.0*nn)) / nn))"
           " / (1.0 + (1.96*1.96)/nn)")


def pairwise_winrate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Win-rate matrix over model pairs with the Wilson-score lower
    bound — the "is this ranking edge real or 5 votes of noise" gate a
    leaderboard applies before showing A > B. Output per unordered
    model pair: (m1, m2, n_votes, wins_m1, winrate_e6, wilson_lb_e6).

    Scale: one map-side-combinable aggregate to <=|models|^2 rows;
    the Wilson formula is a scalar expression on the aggregate."""
    v = _votes(spark, sf_dir).where(F.col("src_a") != F.col("src_b"))
    canon = v.select(
        F.least("src_a", "src_b").alias("m1"),
        F.greatest("src_a", "src_b").alias("m2"),
        F.when(F.col("prefer_a") == 1,
               (F.col("src_a") < F.col("src_b")).cast("long"))
         .otherwise((F.col("src_b") < F.col("src_a")).cast("long"))
         .alias("win1"))
    agg = (canon.groupBy("m1", "m2")
           .agg(F.count(F.lit(1)).alias("n_votes"),
                F.sum("win1").alias("wins_m1")))
    return agg.select(
        "m1", "m2", "n_votes", "wins_m1",
        F.expr("1000000 * wins_m1 div n_votes").alias("winrate_e6"),
        F.expr(
            "cast(floor(1000000.0 * ("
            + _WILSON.replace("p", "(cast(wins_m1 as double)"
                              " / cast(n_votes as double))")
                     .replace("nn", "cast(n_votes as double)")
            + ")) as bigint)").alias("wilson_lb_e6"))


def _wilson_sql() -> str:
    wilson = (_WILSON
              .replace("p", "(CAST(wins_m1 AS DOUBLE)"
                       " / CAST(n_votes AS DOUBLE))")
              .replace("nn", "CAST(n_votes AS DOUBLE)"))
    return f"""
WITH {_DUCK_BASE.strip()},
canon AS (
    SELECT least(src_a, src_b) AS m1, greatest(src_a, src_b) AS m2,
           CASE WHEN prefer_a = 1
                THEN CASE WHEN src_a < src_b THEN 1 ELSE 0 END
                ELSE CASE WHEN src_b < src_a THEN 1 ELSE 0 END
           END AS win1
    FROM votes WHERE src_a != src_b
),
agg AS (
    SELECT m1, m2, CAST(count(*) AS BIGINT) AS n_votes,
           CAST(sum(win1) AS BIGINT) AS wins_m1
    FROM canon GROUP BY m1, m2
)
SELECT m1, m2, n_votes, wins_m1,
       1000000 * wins_m1 // n_votes AS winrate_e6,
       CAST(floor(1000000.0 * ({wilson})) AS BIGINT) AS wilson_lb_e6
FROM agg
"""


QUERIES["pairwise_winrate_wilson"] = (pairwise_winrate_wilson,
                                      _wilson_sql())


# --------------------------------------------------------------------
# Annotator agreement: Cohen's kappa per annotator pair
# --------------------------------------------------------------------

def annotator_agreement_kappa(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Cohen's kappa for each annotator pair — chance-corrected
    agreement, THE acceptance gate on human preference labels. kappa =
    (A*N - (a1*b1 + a0*b0)) / (N^2 - (a1*b1 + a0*b0)), every term an
    exact int64 (cross-multiplied, no intermediate ratios); the single
    double division happens once at the end under floor(1e6*...)
    (floor, not int-cast: kappa can be negative). Output per pair:
    (pair, n_items, agree, kappa_e6).

    Scale: votes collapse per-comparison to three inline flag columns
    (no explode), then one aggregate to 3 rows. int64 headroom:
    A*N and N^2 need N < 3e9 items."""
    f = _flags(spark, sf_dir)
    stacked = f.select(F.explode(F.array(*[
        F.struct(F.lit(f"h{a}~h{b}").alias("pair"),
                 F.col(f"p{a}").alias("x"), F.col(f"p{b}").alias("y"))
        for a in range(_N_ANNOTATORS) for b in range(a + 1,
                                                     _N_ANNOTATORS)
    ])).alias("s")).select("s.pair", "s.x", "s.y")
    agg = (stacked.groupBy("pair")
           .agg(F.count(F.lit(1)).alias("n_items"),
                F.sum((F.col("x") == F.col("y")).cast("long"))
                 .alias("agree"),
                F.sum("x").alias("a1"), F.sum("y").alias("b1")))
    num = ("(agree * n_items"
           " - (a1 * b1 + (n_items - a1) * (n_items - b1)))")
    den = ("(n_items * n_items"
           " - (a1 * b1 + (n_items - a1) * (n_items - b1)))")
    kappa = (f"case when {den} = 0 then cast(0 as bigint) else"
             f" cast(floor(1000000.0 * cast({num} as double)"
             f" / cast({den} as double)) as bigint) end")
    return agg.select("pair", "n_items", "agree",
                      F.expr(kappa).alias("kappa_e6"))


def _kappa_sql() -> str:
    num = ("(agree * n_items"
           " - (a1 * b1 + (n_items - a1) * (n_items - b1)))")
    den = ("(n_items * n_items"
           " - (a1 * b1 + (n_items - a1) * (n_items - b1)))")
    return f"""
WITH {_DUCK_BASE.strip()},
{_DUCK_FLAGS.strip()},
stacked AS (
    SELECT 'h0~h1' AS pair, p0 AS x, p1 AS y FROM flags
    UNION ALL
    SELECT 'h0~h2' AS pair, p0 AS x, p2 AS y FROM flags
    UNION ALL
    SELECT 'h1~h2' AS pair, p1 AS x, p2 AS y FROM flags
),
agg AS (
    SELECT pair, CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CASE WHEN x = y THEN 1 ELSE 0 END) AS BIGINT)
               AS agree,
           CAST(sum(x) AS BIGINT) AS a1, CAST(sum(y) AS BIGINT) AS b1
    FROM stacked GROUP BY pair
)
SELECT pair, n_items, agree,
       CASE WHEN {den} = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(1000000.0 * CAST({num} AS DOUBLE)
                            / CAST({den} AS DOUBLE)) AS BIGINT)
       END AS kappa_e6
FROM agg
"""


QUERIES["annotator_agreement_kappa"] = (annotator_agreement_kappa,
                                        _kappa_sql())


# --------------------------------------------------------------------
# Fleiss' kappa across all annotators
# --------------------------------------------------------------------

def fleiss_kappa_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa over all three annotators at once (2 categories,
    m=3 raters/item). With U = sum_i(na^2+nb^2-3), V = Sa^2+Sb^2:
    kappa = (3NU - 2V)/(18N^2 - 2V) — exact int64 cross-multiplied,
    one floored double division at the end. Output one row:
    (n_items, p_bar_e6, p_e_e6, kappa_e6).

    Scale: inline flags, one global aggregate; headroom 18N^2 needs
    N < 7e8 items."""
    f = _flags(spark, sf_dir).select(
        (F.col("p0") + F.col("p1") + F.col("p2")).alias("na"))
    f = f.select("na", (F.lit(3) - F.col("na")).alias("nb"))
    agg = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("na") * F.col("na") + F.col("nb") * F.col("nb")
              - F.lit(3)).alias("u"),
        F.sum("na").alias("sa"), F.sum("nb").alias("sb"))
    return agg.select(
        F.col("n").alias("n_items"),
        F.expr("cast(floor(1000000.0 * cast(u as double)"
               " / cast(6 * n as double)) as bigint)").alias("p_bar_e6"),
        F.expr("cast(floor(1000000.0 * cast(sa * sa + sb * sb as double)"
               " / cast(9 * n * n as double)) as bigint)")
         .alias("p_e_e6"),
        F.expr("cast(floor(1000000.0"
               " * cast(3 * n * u - 2 * (sa * sa + sb * sb) as double)"
               " / cast(18 * n * n - 2 * (sa * sa + sb * sb) as double))"
               " as bigint)").alias("kappa_e6"))


_FLEISS_SQL = f"""
WITH {_DUCK_BASE.strip()},
{_DUCK_FLAGS.strip()},
counts AS (
    SELECT p0 + p1 + p2 AS na, 3 - (p0 + p1 + p2) AS nb FROM flags
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(na * na + nb * nb - 3) AS BIGINT) AS u,
           CAST(sum(na) AS BIGINT) AS sa,
           CAST(sum(nb) AS BIGINT) AS sb
    FROM counts
)
SELECT n AS n_items,
       CAST(floor(1000000.0 * CAST(u AS DOUBLE)
                  / CAST(6 * n AS DOUBLE)) AS BIGINT) AS p_bar_e6,
       CAST(floor(1000000.0 * CAST(sa * sa + sb * sb AS DOUBLE)
                  / CAST(9 * n * n AS DOUBLE)) AS BIGINT) AS p_e_e6,
       CAST(floor(1000000.0
                  * CAST(3 * n * u - 2 * (sa * sa + sb * sb) AS DOUBLE)
                  / CAST(18 * n * n - 2 * (sa * sa + sb * sb)
                         AS DOUBLE)) AS BIGINT) AS kappa_e6
FROM agg
"""

QUERIES["fleiss_kappa_items"] = (fleiss_kappa_items, _FLEISS_SQL)


# --------------------------------------------------------------------
# Length-bias audit
# --------------------------------------------------------------------

def preference_length_bias(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Does the longer response win more often as the length gap
    grows? The classic verbosity-bias audit on preference data: bucket
    votes by |len_a - len_b| (width 25, capped at bucket 8 — the
    CLAUDE.md no-width_bucket floor formula) and report the longer
    side's win rate per bucket. Output: (bucket, n_votes,
    longer_wins, winrate_e6).

    Scale: scalar expressions then one map-side-combinable aggregate
    to <=9 rows."""
    v = _votes(spark, sf_dir).where(F.col("len_a") != F.col("len_b"))
    rows = v.select(
        F.least(F.expr("abs(len_a - len_b) div 25"), F.lit(8))
         .cast("long").alias("bucket"),
        (F.col("prefer_a") ==
         (F.col("len_a") > F.col("len_b")).cast("int")).cast("long")
         .alias("longer_win"))
    return (rows.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_votes"),
                 F.sum("longer_win").alias("longer_wins"))
            .withColumn("winrate_e6",
                        F.expr("1000000 * longer_wins div n_votes")))


_LENGTH_BIAS_SQL = f"""
WITH {_DUCK_BASE.strip()},
rows_ AS (
    SELECT least(abs(len_a - len_b) // 25, 8) AS bucket,
           CASE WHEN prefer_a = (CASE WHEN len_a > len_b THEN 1
                                      ELSE 0 END)
                THEN 1 ELSE 0 END AS longer_win
    FROM votes WHERE len_a != len_b
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_votes,
       CAST(sum(longer_win) AS BIGINT) AS longer_wins,
       1000000 * CAST(sum(longer_win) AS BIGINT) // count(*)
           AS winrate_e6
FROM rows_ GROUP BY bucket
"""

QUERIES["preference_length_bias"] = (preference_length_bias,
                                     _LENGTH_BIAS_SQL)


# --------------------------------------------------------------------
# Majority-preference transitivity audit
# --------------------------------------------------------------------

def preference_transitivity_audit(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Is the majority preference a coherent ranking? Build the
    majority-direction edge per model pair (strict majority; ties
    dropped and counted), then count cyclic triads (a>b>c>a — each
    counted once at its minimum-label rotation) vs transitive triads.
    Cycles mean no total order exists and a Bradley-Terry score is a
    compromise, not a summary. Output one row: (n_models, n_edges,
    n_tied_pairs, n_cyclic, n_transitive).

    Scale: ONE corpus pass reduces to <=|models|^2 majority-edge
    rows, persisted (it feeds four branches: edges, tie stats, model
    census, and the triad joins — the CLAUDE.md multi-branch
    re-execution hazard) and released via tables.release(); the
    triple self-join runs on that broadcast-sized frame."""
    v = _votes(spark, sf_dir).where(F.col("src_a") != F.col("src_b"))
    canon = v.select(
        F.least("src_a", "src_b").alias("m1"),
        F.greatest("src_a", "src_b").alias("m2"),
        F.when(F.col("prefer_a") == 1,
               (F.col("src_a") < F.col("src_b")).cast("long"))
         .otherwise((F.col("src_b") < F.col("src_a")).cast("long"))
         .alias("win1"))
    pairs = persist(canon.groupBy("m1", "m2")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("win1").alias("w1")))
    edges = (pairs
             .select(F.when(2 * F.col("w1") > F.col("n"), F.col("m1"))
                      .when(2 * F.col("w1") < F.col("n"), F.col("m2"))
                      .alias("u"),
                     F.when(2 * F.col("w1") > F.col("n"), F.col("m2"))
                      .when(2 * F.col("w1") < F.col("n"), F.col("m1"))
                      .alias("v"))
             .where(F.col("u").isNotNull()))
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("c2"), F.col("v").alias("a2"))
    cyc = (e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
           .join(F.broadcast(e3), (F.col("c") == F.col("c2"))
                 & (F.col("a") == F.col("a2")))
           .where((F.col("a") < F.col("b")) & (F.col("a") < F.col("c")))
           .agg(F.count(F.lit(1)).alias("n_cyclic")))
    t3 = edges.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    trans = (e1.join(F.broadcast(e2), F.col("b") == F.col("b2"))
             .join(F.broadcast(t3), (F.col("a") == F.col("a3"))
                   & (F.col("c") == F.col("c3")))
             .agg(F.count(F.lit(1)).alias("n_transitive")))
    models = (pairs.select(F.col("m1").alias("m"))
              .unionByName(pairs.select(F.col("m2").alias("m")))
              .agg(F.countDistinct("m").alias("n_models")))
    stats = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((2 * F.col("w1") == F.col("n")).cast("long"))
         .alias("n_tied_pairs"))
    return (models.crossJoin(stats).crossJoin(cyc).crossJoin(trans)
            .select("n_models",
                    (F.col("n_pairs") - F.col("n_tied_pairs"))
                    .alias("n_edges"),
                    "n_tied_pairs", "n_cyclic", "n_transitive"))


_TRANSITIVITY_SQL = f"""
WITH {_DUCK_BASE.strip()},
canon AS (
    SELECT least(src_a, src_b) AS m1, greatest(src_a, src_b) AS m2,
           CASE WHEN prefer_a = 1
                THEN CASE WHEN src_a < src_b THEN 1 ELSE 0 END
                ELSE CASE WHEN src_b < src_a THEN 1 ELSE 0 END
           END AS win1
    FROM votes WHERE src_a != src_b
),
pairs_agg AS (
    SELECT m1, m2, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(win1) AS BIGINT) AS w1
    FROM canon GROUP BY m1, m2
),
edges AS (
    SELECT CASE WHEN 2 * w1 > n THEN m1 ELSE m2 END AS u,
           CASE WHEN 2 * w1 > n THEN m2 ELSE m1 END AS v
    FROM pairs_agg WHERE 2 * w1 != n
),
cyc AS (
    SELECT CAST(count(*) AS BIGINT) AS n_cyclic
    FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e2.v = e3.u AND e3.v = e1.u
    WHERE e1.u < e1.v AND e1.u < e2.v
),
trans AS (
    SELECT CAST(count(*) AS BIGINT) AS n_transitive
    FROM edges e1 JOIN edges e2 ON e1.v = e2.u
    JOIN edges e3 ON e1.u = e3.u AND e2.v = e3.v
),
models AS (
    SELECT CAST(count(DISTINCT m) AS BIGINT) AS n_models
    FROM (SELECT m1 AS m FROM canon UNION ALL SELECT m2 FROM canon)
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN 2 * w1 = n THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tied_pairs
    FROM pairs_agg
)
SELECT m.n_models, s.n_pairs - s.n_tied_pairs AS n_edges,
       s.n_tied_pairs, c.n_cyclic, t.n_transitive
FROM models m, stats s, cyc c, trans t
"""

QUERIES["preference_transitivity_audit"] = (preference_transitivity_audit,
                                            _TRANSITIVITY_SQL)


# --------------------------------------------------------------------
# Position-bias audit per annotator
# --------------------------------------------------------------------

def annotator_position_bias(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Does any annotator systematically favor the first-listed
    option? Per-annotator rate of choosing side A (positions are
    fixed by construction, so a fair rater's rate tracks the pooled
    rate). Output per annotator: (annotator, n_votes, a_votes,
    a_rate_e6, pooled_rate_e6, skew_e6 = own - pooled).

    Scale: one aggregate to 3 rows + a broadcast of the 1-row pooled
    aggregate."""
    v = _votes(spark, sf_dir)
    per = (v.groupBy(F.col("h").alias("annotator"))
           .agg(F.count(F.lit(1)).alias("n_votes"),
                F.sum("prefer_a").alias("a_votes"))
           .withColumn("a_rate_e6",
                       F.expr("1000000 * a_votes div n_votes")))
    pooled = (v.agg(F.count(F.lit(1)).alias("pn"),
                    F.sum("prefer_a").alias("pa"))
              .select(F.expr("1000000 * pa div pn")
                      .alias("pooled_rate_e6")))
    return (per.crossJoin(F.broadcast(pooled))
            .select("annotator", "n_votes", "a_votes", "a_rate_e6",
                    "pooled_rate_e6",
                    (F.col("a_rate_e6") - F.col("pooled_rate_e6"))
                    .alias("skew_e6")))


_POSITION_SQL = f"""
WITH {_DUCK_BASE.strip()},
per AS (
    SELECT h AS annotator, CAST(count(*) AS BIGINT) AS n_votes,
           CAST(sum(prefer_a) AS BIGINT) AS a_votes
    FROM votes GROUP BY h
),
pooled AS (
    SELECT 1000000 * CAST(sum(prefer_a) AS BIGINT) // count(*)
               AS pooled_rate_e6
    FROM votes
)
SELECT CAST(annotator AS INT) AS annotator, n_votes, a_votes,
       1000000 * a_votes // n_votes AS a_rate_e6,
       p.pooled_rate_e6,
       1000000 * a_votes // n_votes - p.pooled_rate_e6 AS skew_e6
FROM per, pooled p
"""

QUERIES["annotator_position_bias"] = (annotator_position_bias,
                                      _POSITION_SQL)


# --------------------------------------------------------------------
# End-to-end leaderboard: strengths + edge wins + label-quality gate
# --------------------------------------------------------------------

def preference_qa_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The publishable leaderboard: Bradley-Terry strength and rank
    per model, its majority-edge win share (how many head-to-head
    matchups it wins outright — the sanity column readers check the
    model ranking against), and the corpus-level annotator-agreement
    gate (min pairwise kappa) stamped on every row, because a
    leaderboard built on labels annotators disagree about is noise.
    Composes three operators of this family end-to-end. Output per
    model: (model, rank, strength_e6, n_games, edges, edge_wins,
    edge_win_share_e6, kappa_min_e6).

    Scale: BT's one corpus aggregate + driver-paced rounds; the edge
    census is the same <=|models|^2 majority-pair aggregate as the
    transitivity audit (persisted — it feeds both union sides —
    released via tables.release()); kappa is one aggregate to 3
    rows. Joins run on |models| rows.
    """
    bt = bradley_terry_strength(spark, sf_dir)
    v = _votes(spark, sf_dir).where(F.col("src_a") != F.col("src_b"))
    canon = v.select(
        F.least("src_a", "src_b").alias("m1"),
        F.greatest("src_a", "src_b").alias("m2"),
        F.when(F.col("prefer_a") == 1,
               (F.col("src_a") < F.col("src_b")).cast("long"))
         .otherwise((F.col("src_b") < F.col("src_a")).cast("long"))
         .alias("win1"))
    pairs = persist(canon.groupBy("m1", "m2")
                    .agg(F.count(F.lit(1)).alias("n"),
                         F.sum("win1").alias("w1")))
    sides = (pairs.select(F.col("m1").alias("model"),
                          (2 * F.col("w1") > F.col("n")).cast("long")
                          .alias("win"),
                          (2 * F.col("w1") == F.col("n")).cast("long")
                          .alias("tie"))
             .unionByName(pairs.select(
                 F.col("m2").alias("model"),
                 (2 * F.col("w1") < F.col("n")).cast("long")
                 .alias("win"),
                 (2 * F.col("w1") == F.col("n")).cast("long")
                 .alias("tie"))))
    epm = (sides.groupBy("model")
           .agg((F.count(F.lit(1)) - F.sum("tie")).alias("edges"),
                F.sum("win").alias("edge_wins")))
    kap = (annotator_agreement_kappa(spark, sf_dir)
           .agg(F.min("kappa_e6").alias("kappa_min_e6")))
    return (bt.join(epm, "model", "left")
            .crossJoin(F.broadcast(kap))
            .select("model", "rank", "strength_e6", "n_games",
                    F.coalesce("edges", F.lit(0)).alias("edges"),
                    F.coalesce("edge_wins", F.lit(0)).alias("edge_wins"),
                    F.expr("case when coalesce(edges, 0) = 0"
                           " then cast(0 as bigint)"
                           " else 1000000 * edge_wins div edges end")
                     .alias("edge_win_share_e6"),
                    "kappa_min_e6"))


def _end2end_sql() -> str:
    return f"""
WITH bt AS (SELECT * FROM ({_bt_sql()}) t),
kap AS (SELECT min(kappa_e6) AS kappa_min_e6 FROM ({_kappa_sql()}) t),
base AS (
    WITH {_DUCK_BASE.strip()}
    SELECT least(src_a, src_b) AS m1, greatest(src_a, src_b) AS m2,
           CASE WHEN prefer_a = 1
                THEN CASE WHEN src_a < src_b THEN 1 ELSE 0 END
                ELSE CASE WHEN src_b < src_a THEN 1 ELSE 0 END
           END AS win1
    FROM votes WHERE src_a != src_b
),
pairs_agg AS MATERIALIZED (
    SELECT m1, m2, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(win1) AS BIGINT) AS w1
    FROM base GROUP BY m1, m2
),
sides AS (
    SELECT m1 AS model,
           CASE WHEN 2 * w1 > n THEN 1 ELSE 0 END AS win,
           CASE WHEN 2 * w1 = n THEN 1 ELSE 0 END AS tie
    FROM pairs_agg
    UNION ALL
    SELECT m2 AS model,
           CASE WHEN 2 * w1 < n THEN 1 ELSE 0 END AS win,
           CASE WHEN 2 * w1 = n THEN 1 ELSE 0 END AS tie
    FROM pairs_agg
),
epm AS (
    SELECT model,
           CAST(count(*) - sum(tie) AS BIGINT) AS edges,
           CAST(sum(win) AS BIGINT) AS edge_wins
    FROM sides GROUP BY model
)
SELECT bt.model, bt.rank, bt.strength_e6, bt.n_games,
       coalesce(e.edges, 0) AS edges,
       coalesce(e.edge_wins, 0) AS edge_wins,
       CASE WHEN coalesce(e.edges, 0) = 0 THEN CAST(0 AS BIGINT)
            ELSE 1000000 * e.edge_wins // e.edges END
           AS edge_win_share_e6,
       k.kappa_min_e6
FROM bt LEFT JOIN epm e ON bt.model = e.model
CROSS JOIN kap k
"""


QUERIES["preference_qa_end2end"] = (preference_qa_end2end,
                                    _end2end_sql())


# --------------------------------------------------------------------
# Elo rating trajectory (sequential/online counterpart of Bradley-Terry)
# --------------------------------------------------------------------

ELO_MATCHES = 2048          # deterministic chronological match prefix
ELO_K_MILLI = 16_000        # K = 16 in millipoint units
ELO_CLAMP = 400_000         # +-400 rating points, millipoints
ELO_INIT = 1_500_000        # starting rating 1500.000


def elo_rating_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online Elo ratings over a chronological match stream — the
    sequential sibling of ``bradley_terry_strength`` (batch MM fit):
    arena-style leaderboards update per game, and order matters.
    Matches are consecutive same-user events whose types and values
    both differ (winner = the type with the higher value); players are
    the 5 event types. The standard logistic expected score 10^(d/400)
    is libm territory, so this uses the clamped-linear Elo variant
    E = (400 + clamp(d, ±400))/800 — every update is then the exact
    integer  Δ = (K·(800000 − E_num)) div 800000  in millipoints, and
    the whole trajectory folds as a LIST-accumulator aggregate (the
    CLAUDE.md-verified safe fold shape; each step builds a NEW rating
    vector via a nested transform over a consistent acc snapshot —
    probed in both engines this round).

    Scale: match extraction is one user-partitioned lag window over
    the corpus; the fold input is a TakeOrdered {ELO_MATCHES}-row
    chronological prefix (the ``sprt_sequential_test`` bounded-walk
    discipline — an inherently sequential update can't fan out, so
    bound it explicitly). Output: one row per player plus the match
    count."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"))
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    m = (ev.select(
            "event_type", "cents", "us", "event_id",
            F.lag("event_type").over(w).alias("p_type"),
            F.lag("cents").over(w).alias("p_cents"))
         .where(F.col("p_type").isNotNull()
                & (F.col("p_type") != F.col("event_type"))
                & (F.col("p_cents") != F.col("cents")))
         .select(
            "us", "event_id",
            F.when(F.col("cents") > F.col("p_cents"), F.col("event_type"))
             .otherwise(F.col("p_type")).alias("w_type"),
            F.when(F.col("cents") > F.col("p_cents"), F.col("p_type"))
             .otherwise(F.col("event_type")).alias("l_type"))
         .orderBy("us", "event_id").limit(ELO_MATCHES))
    types = load(spark, sf_dir, "events").select("event_type").distinct() \
        .agg(F.array_sort(F.collect_list("event_type")).alias("types"))
    folded = (m.crossJoin(F.broadcast(types))
              .select(F.struct("us", "event_id",
                               F.array(F.array_position("types", F.col("w_type")),
                                       F.array_position("types", F.col("l_type")))
                               .alias("wl")).alias("s"),
                      "types")
              .groupBy("types")
              .agg(F.count(F.lit(1)).alias("n_matches"),
                   F.expr("array_sort(collect_list(s))").alias("ms"))
              .select(
                  "types", "n_matches",
                  F.expr(f"""
  aggregate(
    transform(ms, s -> s.wl),
    transform(sequence(1, size(types)), x -> cast({ELO_INIT} as bigint)),
    (acc, e) -> transform(sequence(1, size(acc)), i ->
        element_at(acc, i)
        + (CASE WHEN i = cast(element_at(e, 1) as int) THEN cast(1 as bigint)
                WHEN i = cast(element_at(e, 2) as int) THEN cast(-1 as bigint)
                ELSE cast(0 as bigint) END)
          * (({ELO_K_MILLI} * (800000 - (400000
               + greatest(cast(-{ELO_CLAMP} as bigint),
                          least(cast({ELO_CLAMP} as bigint),
                                element_at(acc, cast(element_at(e, 1) as int))
                                - element_at(acc, cast(element_at(e, 2) as int)))))))
             div 800000)))
""").alias("ratings")))
    return (folded
            .select("n_matches",
                    F.explode(F.arrays_zip(F.col("types").alias("player"),
                                           F.col("ratings").alias("rating_milli")))
                    .alias("z"))
            .select(F.col("z.player").alias("player"),
                    F.col("z.rating_milli").alias("rating_milli"),
                    "n_matches"))


_ELO_SQL = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents,
         epoch_us(ts) AS us
  FROM events
), lagged AS (
  SELECT event_type, cents, us, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY us, event_id) AS p_type,
         lag(cents) OVER (PARTITION BY user_id
                          ORDER BY us, event_id) AS p_cents
  FROM ev
), matches AS (
  SELECT us, event_id,
         CASE WHEN cents > p_cents THEN event_type ELSE p_type END AS w_type,
         CASE WHEN cents > p_cents THEN p_type ELSE event_type END AS l_type
  FROM lagged
  WHERE p_type IS NOT NULL AND p_type <> event_type AND p_cents <> cents
  ORDER BY us, event_id
  LIMIT {ELO_MATCHES}
), alphabet AS (
  SELECT list(DISTINCT event_type ORDER BY event_type) AS types FROM ev
), packed AS (
  SELECT a.types AS types,
         CAST(count(*) AS BIGINT) AS n_matches,
         list([CAST(list_position(a.types, m.w_type) AS BIGINT),
               CAST(list_position(a.types, m.l_type) AS BIGINT)]
              ORDER BY m.us, m.event_id) AS ms
  FROM matches m, alphabet a
  GROUP BY a.types
), folded AS (
  SELECT types, n_matches,
         list_reduce(
           list_prepend(list_transform(range(1, len(types) + 1),
                                       x -> {ELO_INIT}::BIGINT), ms),
           (acc, e) -> list_transform(range(1, len(acc) + 1), i ->
             acc[i]
             + (CASE WHEN i = e[1] THEN 1::BIGINT
                     WHEN i = e[2] THEN (-1)::BIGINT
                     ELSE 0::BIGINT END)
               * (({ELO_K_MILLI} * (800000 - (400000
                    + greatest((-{ELO_CLAMP})::BIGINT,
                               least({ELO_CLAMP}::BIGINT,
                                     acc[e[1]] - acc[e[2]])))))
                  // 800000))) AS ratings
  FROM packed
)
SELECT t.player, t.rating_milli, f.n_matches
FROM folded f,
     unnest(list_transform(range(1, len(f.types) + 1),
            i -> struct_pack(player := f.types[i],
                             rating_milli := f.ratings[i]))) AS u(t)
"""

QUERIES["elo_rating_trajectory"] = (elo_rating_trajectory, _ELO_SQL)


# --------------------------------------------------------------------------
# dawid_skene_label_model (round 11): EM label aggregation
# --------------------------------------------------------------------------
# Dawid & Skene 1979 via 2 unrolled EM rounds in e6 fixed point over
# the same 3-annotator vote derivation as annotator_agreement_kappa.
# Every M-step statistic is an exact integer sum; every E-step
# posterior is a LEFT-FOLD of scaled integer multiplies
# ((x * f) div 1e6 per annotator, applied in annotator order), so both
# engines floor identically at every intermediate step. The identical
# arithmetic is GENERATED for both engines from the same Python loop.
_DS_ROUNDS = 2
_DS_S = 1_000_000  # e6 fixed-point scale


def dawid_skene_label_model(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Crowd-label aggregation the way an RLHF data pipeline actually
    de-noises preference votes: Dawid-Skene EM over per-annotator
    confusion parameters. Two unrolled EM rounds in e6 fixed point:
    posteriors start at the majority fraction, each M-step re-estimates
    annotator sensitivity (P(vote=1 | true=1)), specificity
    (P(vote=0 | true=0)) and the class prior from posterior-weighted
    counts, each E-step refolds the three votes through the current
    parameters. Emits one row per annotator — sensitivity/specificity
    after the final M-step, the final prior, and how many items the
    model's final label FLIPS vs naive majority vote (the payoff of
    modeling annotator quality at all).

    Determinism: fixed-point integers end-to-end (module-header note);
    the E-step multiply order is the fixed annotator order.

    Scale: the vote frame never explodes (3 inline columns, the
    kappa-family shape); each EM round is ONE 1-row aggregate
    broadcast back — 2 rounds = 4 tiny shuffle-free scans over the
    persisted? no: re-derived lineage per round, all map-side. At
    100 TB: persist the flags frame once (|comparisons| rows) and the
    rounds stay two scans each; parameters always drive as broadcast
    1-row frames (the raking/weiszfeld idiom).
    """
    f = persist(_flags(spark, sf_dir)
                .select("cmp_id", "p0", "p1", "p2")
                .withColumn("q", F.expr(f"({_DS_S} * (p0 + p1 + p2)) div 3")))
    for _ in range(_DS_ROUNDS):
        aggs = [F.sum("q").cast("long").alias("sq"),
                F.sum(F.expr(f"{_DS_S} - q")).cast("long").alias("s1q"),
                F.count(F.lit(1)).cast("long").alias("n")]
        for h in range(_N_ANNOTATORS):
            aggs += [F.sum(F.expr(f"q * p{h}")).cast("long")
                      .alias(f"sa{h}"),
                     F.sum(F.expr(f"({_DS_S} - q) * (1 - p{h})"))
                      .cast("long").alias(f"sb{h}")]
        f = f.crossJoin(F.broadcast(f.agg(*aggs)))
        for h in range(_N_ANNOTATORS):
            f = (f.withColumn(f"al{h}", F.expr(
                     f"({_DS_S} * sa{h}) div greatest(sq, 1)"))
                  .withColumn(f"be{h}", F.expr(
                     f"({_DS_S} * sb{h}) div greatest(s1q, 1)")))
        f = (f.withColumn("pi", F.expr("sq div n"))
              .withColumn("num0", F.col("pi"))
              .withColumn("den0", F.expr(f"{_DS_S} - pi")))
        for h in range(_N_ANNOTATORS):
            f = (f.withColumn(f"num{h + 1}", F.expr(
                     f"(num{h} * (CASE WHEN p{h} = 1 THEN al{h}"
                     f" ELSE {_DS_S} - al{h} END)) div {_DS_S}"))
                  .withColumn(f"den{h + 1}", F.expr(
                     f"(den{h} * (CASE WHEN p{h} = 1 THEN"
                     f" {_DS_S} - be{h} ELSE be{h} END)) div {_DS_S}")))
        last = _N_ANNOTATORS
        f = f.select("cmp_id", "p0", "p1", "p2", F.expr(
            f"({_DS_S} * num{last})"
            f" div greatest(num{last} + den{last}, 1)").alias("q"))
    aggs = [F.sum("q").cast("long").alias("sq"),
            F.sum(F.expr(f"{_DS_S} - q")).cast("long").alias("s1q"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr(
                f"CASE WHEN (q >= {_DS_S // 2})"
                f" != (p0 + p1 + p2 >= 2) THEN 1 ELSE 0 END"))
             .cast("long").alias("n_flipped")]
    for h in range(_N_ANNOTATORS):
        aggs += [F.sum(F.expr(f"q * p{h}")).cast("long")
                  .alias(f"sa{h}"),
                 F.sum(F.expr(f"({_DS_S} - q) * (1 - p{h})"))
                  .cast("long").alias(f"sb{h}")]
    fin = f.agg(*aggs)
    outs = F.explode(F.array(*[
        F.struct(F.lit(h).cast("long").alias("annotator"),
                 F.expr(f"({_DS_S} * sa{h}) div greatest(sq, 1)")
                  .alias("alpha_e6"),
                 F.expr(f"({_DS_S} * sb{h}) div greatest(s1q, 1)")
                  .alias("beta_e6"))
        for h in range(_N_ANNOTATORS)])).alias("o")
    return (fin.select(outs, F.expr("sq div n").alias("pi_e6"),
                       F.col("n").alias("n_items"), "n_flipped")
            .select("o.annotator", "o.alpha_e6", "o.beta_e6",
                    "pi_e6", "n_items", "n_flipped"))


def _ds_sql() -> str:
    S = _DS_S
    ctes = [_DUCK_BASE.strip(), _DUCK_FLAGS.strip(),
            f"q0 AS (SELECT cmp_id, p0, p1, p2,"
            f" ({S} * (p0 + p1 + p2)) // 3 AS q FROM flags)"]
    cur = "q0"
    for r in range(_DS_ROUNDS):
        sums = [f"CAST(sum(q) AS BIGINT) AS sq",
                f"CAST(sum({S} - q) AS BIGINT) AS s1q",
                f"CAST(count(*) AS BIGINT) AS n"]
        for h in range(_N_ANNOTATORS):
            sums += [f"CAST(sum(q * p{h}) AS BIGINT) AS sa{h}",
                     f"CAST(sum(({S} - q) * (1 - p{h})) AS BIGINT)"
                     f" AS sb{h}"]
        ctes.append(f"m{r} AS MATERIALIZED (SELECT {', '.join(sums)}"
                    f" FROM {cur})")
        params = [f"({S} * m.sa{h}) // greatest(m.sq, 1) AS al{h},"
                  f" ({S} * m.sb{h}) // greatest(m.s1q, 1) AS be{h}"
                  for h in range(_N_ANNOTATORS)]
        ctes.append(
            f"p{r} AS (SELECT f.cmp_id, f.p0, f.p1, f.p2, f.q,"
            f" {', '.join(params)}, m.sq // m.n AS pi"
            f" FROM {cur} f, m{r} m)")
        ctes.append(f"f{r}0 AS (SELECT *, pi AS num0, {S} - pi AS den0"
                    f" FROM p{r})")
        for h in range(_N_ANNOTATORS):
            ctes.append(
                f"f{r}{h + 1} AS (SELECT *,"
                f" (num{h} * (CASE WHEN p{h} = 1 THEN al{h}"
                f" ELSE {S} - al{h} END)) // {S} AS num{h + 1},"
                f" (den{h} * (CASE WHEN p{h} = 1 THEN {S} - be{h}"
                f" ELSE be{h} END)) // {S} AS den{h + 1}"
                f" FROM f{r}{h})")
        last = _N_ANNOTATORS
        ctes.append(
            f"q{r + 1} AS (SELECT cmp_id, p0, p1, p2,"
            f" ({S} * num{last}) // greatest(num{last} + den{last}, 1)"
            f" AS q FROM f{r}{last})")
        cur = f"q{r + 1}"
    sums = [f"CAST(sum(q) AS BIGINT) AS sq",
            f"CAST(sum({S} - q) AS BIGINT) AS s1q",
            f"CAST(count(*) AS BIGINT) AS n",
            f"CAST(sum(CASE WHEN (q >= {S // 2})"
            f" != (p0 + p1 + p2 >= 2) THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_flipped"]
    for h in range(_N_ANNOTATORS):
        sums += [f"CAST(sum(q * p{h}) AS BIGINT) AS sa{h}",
                 f"CAST(sum(({S} - q) * (1 - p{h})) AS BIGINT)"
                 f" AS sb{h}"]
    ctes.append(f"fin AS MATERIALIZED (SELECT {', '.join(sums)}"
                f" FROM {cur})")
    alpha = " ".join(f"WHEN t.h = {h} THEN ({S} * sa{h})"
                     f" // greatest(sq, 1)"
                     for h in range(_N_ANNOTATORS))
    beta = " ".join(f"WHEN t.h = {h} THEN ({S} * sb{h})"
                    f" // greatest(s1q, 1)"
                    for h in range(_N_ANNOTATORS))
    vals = ", ".join(f"({h})" for h in range(_N_ANNOTATORS))
    return (f"WITH {', '.join(ctes)}\n"
            f"SELECT CAST(t.h AS BIGINT) AS annotator,\n"
            f"       CASE {alpha} END AS alpha_e6,\n"
            f"       CASE {beta} END AS beta_e6,\n"
            f"       sq // n AS pi_e6, n AS n_items, n_flipped\n"
            f"FROM fin, (VALUES {vals}) t(h)")


QUERIES["dawid_skene_label_model"] = (dawid_skene_label_model,
                                      _ds_sql())
