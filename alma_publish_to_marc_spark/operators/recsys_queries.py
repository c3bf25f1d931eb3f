"""Item-item collaborative filtering over the order/part bipartite graph.

Beyond-reference family (SURVEY.md §2.12): the co-occurrence
recommender every commerce/retrieval stack runs — "customers whose
orders contained i also bought j" — as a top-k-per-item edge list.
Complements ``market_basket_rules`` (global association rules) with
per-item ranked neighbors, the structure a serving layer actually
indexes.

Cross-engine determinism: similarity scores are EXACT integer
rationals scaled to e6 and floored — ``floor(1e6·c_ij²/(c_i·c_j))``
(squared cosine) and ``floor(1e6·c_ij/(c_i+c_j−c_ij))`` (Jaccard) —
so ranking never compares engine-divergent floats, and ties break on
the neighbor id (CLAUDE.md rank rule).

Scale: baskets come from one distinct over (order, part); the pair
join is per-order bounded (orders hold ≤ ~dozen distinct parts, so
candidates ≈ orders·C(parts_per_order,2) — linear in orders, never a
part×part cross join). Part frequencies are dim-sized and broadcast.
The top-k is a per-src window — WindowGroupLimit prunes to k map-side
before its shuffle. At 100 TB the same plan holds; the only growing
state is the (i,j) pair aggregate, bounded by observed co-occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from alma_publish_to_marc_spark.tables import load, persist

QUERIES: dict = {}

_TOP_K = 3
_MIN_PAIR = 2  # prune noise pairs (support >= 2 orders)


def _item_item_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 co-purchase neighbors per part, ranked by squared-cosine
    over order co-occurrence (with Jaccard as a second exact column).

    Scale: see module docstring. The squared-cosine keeps ranking in
    int64 (c_ij ≤ 2^15 at driver scale → 1e6·c_ij² < 2^51; at larger
    corpora drop the 1e6 scale to 1e4 or rank on the raw rational via
    cross-multiplication)."""
    # One explicit shuffle on l_orderkey serves THREE consumers: the
    # (order, part) dedup (partitioning on a key subset satisfies the
    # distinct's clustering), the part-frequency aggregate, and both
    # sides of the per-order pair self-join (co-partitioned — no
    # further exchange). PERSISTED (r12): the three consumers are
    # separate plan subtrees, so the unpersisted frame re-ran the
    # lineitem scan + repartition + dedup once per reference — the r12
    # before-plan shows SIX lineitem scans (the union mirror doubled
    # every subtree under it on top). Released via tables.release.
    baskets = persist(load(spark, sf_dir, "lineitem")
                      .select("l_orderkey", "l_partkey")
                      .repartition("l_orderkey")
                      .dropDuplicates(["l_orderkey", "l_partkey"]))
    freq = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = baskets.select(F.col("l_orderkey").alias("ok"),
                       F.col("l_partkey").alias("i"))
    b = baskets.select(F.col("l_orderkey").alias("ok"),
                       F.col("l_partkey").alias("j"))
    pairs = (a.join(b, "ok").where(F.col("i") < F.col("j"))
             .groupBy("i", "j").agg(F.count(F.lit(1)).alias("c_ij"))
             .where(F.col("c_ij") >= _MIN_PAIR))
    # mirror by exploding each scored pair into its two directions —
    # unionAll(pairs, pairs.swap) evaluated the whole pair-join subtree
    # twice (two different subtrees; ReuseExchange can't dedup them —
    # the knn_graph r11 score-once/mirror-after precedent). Same rows.
    mirrored = (pairs.select(
        F.explode(F.array(
            F.struct(F.col("i"), F.col("j")),
            F.struct(F.col("j").alias("i"), F.col("i").alias("j"))))
        .alias("e"), "c_ij")
        .select(F.col("e.i").alias("i"), F.col("e.j").alias("j"), "c_ij"))
    fi = freq.select(F.col("l_partkey").alias("i"), F.col("c").alias("c_i"))
    fj = freq.select(F.col("l_partkey").alias("j"), F.col("c").alias("c_j"))
    scored = (mirrored
              .join(F.broadcast(fi), "i").join(F.broadcast(fj), "j")
              .select("i", "j", "c_ij",
                      F.floor(F.lit(1_000_000) * F.col("c_ij") * F.col("c_ij")
                              / (F.col("c_i") * F.col("c_j")))
                       .cast("long").alias("cos2_e6"),
                      F.floor(F.lit(1_000_000) * F.col("c_ij")
                              / (F.col("c_i") + F.col("c_j") - F.col("c_ij")))
                       .cast("long").alias("jaccard_e6")))
    w = Window.partitionBy("i").orderBy(F.desc("cos2_e6"), F.asc("j"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _TOP_K)
            .select(F.col("i").alias("part_i"), F.col("j").alias("part_j"),
                    F.col("rk").alias("rank"), "c_ij",
                    "cos2_e6", "jaccard_e6"))


_ITEM_SQL = f"""
WITH baskets AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
), freq AS (
  SELECT pk, CAST(count(*) AS BIGINT) AS c FROM baskets GROUP BY pk
), pairs AS (
  SELECT a.pk AS i, b.pk AS j, CAST(count(*) AS BIGINT) AS c_ij
  FROM baskets a JOIN baskets b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY a.pk, b.pk
  HAVING count(*) >= {_MIN_PAIR}
), mirrored AS (
  SELECT i, j, c_ij FROM pairs
  UNION ALL
  SELECT j AS i, i AS j, c_ij FROM pairs
), scored AS (
  SELECT m.i, m.j, m.c_ij,
         CAST(floor(1000000 * m.c_ij * m.c_ij
                    / CAST(fi.c * fj.c AS DOUBLE)) AS BIGINT) AS cos2_e6,
         CAST(floor(1000000 * m.c_ij
                    / CAST(fi.c + fj.c - m.c_ij AS DOUBLE)) AS BIGINT)
             AS jaccard_e6
  FROM mirrored m
  JOIN freq fi ON m.i = fi.pk
  JOIN freq fj ON m.j = fj.pk
)
SELECT i AS part_i, j AS part_j,
       CAST(row_number() OVER (PARTITION BY i
                               ORDER BY cos2_e6 DESC, j ASC) AS INT) AS rank,
       c_ij, cos2_e6, jaccard_e6
FROM scored
QUALIFY rank <= {_TOP_K}
"""

QUERIES["item_item_recs"] = (_item_item_recs, _ITEM_SQL)


# ---------------------------------------------------------------------------
# Personalized recommendations: score unseen parts for a customer cohort
# ---------------------------------------------------------------------------
_REC_CUSTOMERS = 50  # cohort: custkey < 50 (deterministic, scale-stable)


def _personalized_part_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 unseen-part recommendations for a 50-customer cohort:
    each candidate part j scores Σ over the customer's owned parts i
    of the exact co-occurrence cosine² (e6 ints from the item-item
    model), EXCLUDING parts the customer already bought (anti join).

    Scale: the cohort filter prunes customers before anything joins;
    the item-item edge list (top-k per part — already k-bounded) is
    the only model state, joined once per owned part. Ranking sums
    exact int64 scores, ties on part id. This is the standard
    \"user history × item-item matrix\" serving join, expressed as two
    keyed joins + one anti join + a window."""
    owned = (load(spark, sf_dir, "orders")
             .where(F.col("o_custkey") < _REC_CUSTOMERS)
             .select("o_orderkey", "o_custkey")
             .join(load(spark, sf_dir, "lineitem")
                   .select("l_orderkey", "l_partkey"),
                   F.col("o_orderkey") == F.col("l_orderkey"))
             .select("o_custkey", "l_partkey").distinct())
    edges = (_item_item_recs(spark, sf_dir)
             .select(F.col("part_i").alias("l_partkey"),
                     F.col("part_j").alias("cand"), "cos2_e6"))
    cand_scores = (owned.join(edges, "l_partkey")
                   .groupBy("o_custkey", "cand")
                   .agg(F.sum("cos2_e6").alias("score_e6"),
                        F.count(F.lit(1)).alias("n_paths")))
    unseen = cand_scores.join(
        owned.select("o_custkey", F.col("l_partkey").alias("cand")),
        ["o_custkey", "cand"], "left_anti")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("score_e6"), F.asc("cand"))
    return (unseen.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _TOP_K)
            .select(F.col("o_custkey").alias("custkey"),
                    F.col("cand").alias("part"),
                    F.col("rk").alias("rank"), "score_e6", "n_paths"))


_PERS_SQL = f"""
WITH item_recs AS ({_ITEM_SQL.replace(chr(10), chr(10) + '  ')}
), owned AS (
  SELECT DISTINCT o.o_custkey, l.l_partkey
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  WHERE o.o_custkey < {_REC_CUSTOMERS}
), cand_scores AS (
  SELECT ow.o_custkey, e.part_j AS cand,
         CAST(sum(e.cos2_e6) AS BIGINT) AS score_e6,
         CAST(count(*) AS BIGINT) AS n_paths
  FROM owned ow JOIN item_recs e ON ow.l_partkey = e.part_i
  GROUP BY 1, 2
)
SELECT o_custkey AS custkey, cand AS part,
       CAST(row_number() OVER (PARTITION BY o_custkey
                               ORDER BY score_e6 DESC, cand ASC) AS INT)
           AS rank,
       score_e6, n_paths
FROM cand_scores c
WHERE NOT EXISTS (SELECT 1 FROM owned ow2
                  WHERE ow2.o_custkey = c.o_custkey
                    AND ow2.l_partkey = c.cand)
QUALIFY rank <= {_TOP_K}
"""

QUERIES["personalized_part_recs"] = (_personalized_part_recs, _PERS_SQL)


# ---------------------------------------------------------------------------
# Recommendation quality eval: coverage / novelty / diversity
# ---------------------------------------------------------------------------


def _recs_quality_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline quality summary of the ``item_item_recs`` view — the
    three numbers a recommender review asks for beyond accuracy:
    catalog COVERAGE (share of the catalog that ever gets
    recommended; a popularity-collapsed model scores high accuracy
    and ~0 coverage), mean NOVELTY (−ln of the recommended item's
    co-purchase popularity — higher = less obvious recommendations),
    and cross-brand DIVERSITY (share of (seed, rec) pairs that cross
    part brands). One row.

    Determinism: coverage/diversity are exact counts; novelty is the
    quantized-ln recipe (round(1e6·ln(n_baskets/c_j)) per rec, exact
    integer mean).

    Scale: the recs view is |parts|·k rows; brand joins broadcast the
    part dimension columns; everything reduces map-side to one row.
    """
    recs = _item_item_recs(spark, sf_dir)
    parts = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (load(spark, sf_dir, "lineitem")
               .select("l_orderkey", "l_partkey").distinct())
    n_baskets = baskets.select("l_orderkey").distinct() \
        .agg(F.count(F.lit(1)).alias("nb"))
    freq = baskets.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    catalog = parts.agg(F.count(F.lit(1)).alias("n_parts"))
    bi = parts.select(F.col("p_partkey").alias("part_i"),
                      F.col("p_brand").alias("brand_i"))
    bj = parts.select(F.col("p_partkey").alias("part_j"),
                      F.col("p_brand").alias("brand_j"))
    fj = freq.select(F.col("l_partkey").alias("part_j"),
                     F.col("c").alias("c_j"))
    scored = (recs
              .join(F.broadcast(bi), "part_i")
              .join(F.broadcast(bj), "part_j")
              .join(F.broadcast(fj), "part_j")
              .crossJoin(F.broadcast(n_baskets))
              .select(
                  "part_i", "part_j",
                  (F.col("brand_i") != F.col("brand_j")).cast("long")
                  .alias("crossb"),
                  F.round(F.lit(1_000_000)
                          * F.log(F.col("nb") / F.col("c_j")), 0)
                   .cast("long").alias("nov")))
    agg = scored.agg(
        F.countDistinct("part_i").alias("n_rec_lists"),
        F.countDistinct("part_j").alias("n_recommended"),
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("crossb").alias("n_cross"),
        F.sum("nov").alias("nov_sum"))
    return (agg.crossJoin(F.broadcast(catalog))
            .select("n_rec_lists", "n_recommended", "n_parts",
                    F.expr("n_recommended * 1000000 div n_parts")
                     .alias("coverage_e6"),
                    F.expr("n_cross * 1000000 div n_pairs")
                     .alias("cross_brand_e6"),
                    F.expr("nov_sum div n_pairs").alias("mean_novelty_e6")))


_RECS_EVAL_SQL = f"""
WITH recs AS (SELECT part_i, part_j FROM ({_ITEM_SQL})),
baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS nb
       FROM baskets),
freq AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c
         FROM baskets GROUP BY l_partkey),
catalog AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part),
scored AS (
    SELECT r.part_i, r.part_j,
           CAST(pi.p_brand <> pj.p_brand AS BIGINT) AS crossb,
           CAST(round(1000000 * ln(nb.nb / f.c), 0) AS BIGINT) AS nov
    FROM recs r
    JOIN part pi ON pi.p_partkey = r.part_i
    JOIN part pj ON pj.p_partkey = r.part_j
    JOIN freq f ON f.l_partkey = r.part_j
    CROSS JOIN nb
),
agg AS (
    SELECT CAST(count(DISTINCT part_i) AS BIGINT) AS n_rec_lists,
           CAST(count(DISTINCT part_j) AS BIGINT) AS n_recommended,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(crossb) AS BIGINT) AS n_cross,
           CAST(sum(nov) AS BIGINT) AS nov_sum
    FROM scored
)
SELECT n_rec_lists, n_recommended, n_parts,
       n_recommended * 1000000 // n_parts AS coverage_e6,
       n_cross * 1000000 // n_pairs AS cross_brand_e6,
       nov_sum // n_pairs AS mean_novelty_e6
FROM agg CROSS JOIN catalog
"""

QUERIES["recs_quality_eval"] = (_recs_quality_eval, _RECS_EVAL_SQL)


# als_rank1_sweep: rank-1 matrix factorization, exact alternations
# ---------------------------------------------------------------------------

def als_rank1_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix factorization joins the recsys family: rank-1 ALS over
    the customer x part quantity matrix, two exact alternations with BOTH factor
    tables in e3 fixed point (the closed-form update multiplies by
    1e6 so the e3 scales cancel symmetrically) — each solve is the closed form u_i = sum(q*v)/sum(v^2)
    as one integer division, so both engines hold identical factors
    with no learning-rate or float state. Reports the per-rating MSE
    against the global-mean baseline: even rank-1 should beat it, or
    the factorization machinery is wired wrong (pinned by test).
    Output one row: (n_ratings, n_users, n_items, u_checksum,
    v_checksum, mse_model_e3, mse_baseline_e3).

    Determinism: ratings are exact integer quantity sums; factor
    updates are positive integer floor divisions; residuals are exact
    e3 integers (headroom: sum of squared e3 residuals needs ~1e16 at
    sf0.1 — fine to ~1e9 ratings); the baseline MSE is one double
    expression over exact moments. Checksums are position-weighted
    integer sums (the clustering.py idiom).

    Scale: each alternation is one keyed join + map-side-combinable
    aggregate on the ratings frame (persisted across its four
    consumers, released via tables.release()); factors are
    entity-sized frames, broadcast into the joins.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey",
        F.col("l_quantity").cast("long").alias("q"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey",
                                                  "o_custkey")
    r = persist(li.join(orders, li.l_orderkey == orders.o_orderkey)
                .groupBy(F.col("o_custkey").alias("c"),
                         F.col("l_partkey").alias("p"))
                .agg(F.sum("q").alias("q")))

    # v0 = 1000 (e3 unity) for every part: first solve collapses to
    # the row mean; iterate u -> v -> u in exact integer space
    u = (r.groupBy("c")
         .agg(F.expr("sum(q * 1000) * 1000000 div sum(1000 * 1000)")
              .alias("u")))
    v = (r.join(F.broadcast(u), "c")
         .groupBy("p")
         .agg(F.expr("sum(q * u) * 1000000 div greatest(sum(u * u), 1)")
              .alias("v")))
    u = (r.join(F.broadcast(v), "p")
         .groupBy("c")
         .agg(F.expr("sum(q * v) * 1000000 div greatest(sum(v * v), 1)")
              .alias("u")))
    scored = (r.join(F.broadcast(u), "c").join(F.broadcast(v), "p")
              .select("q", F.expr("q * 1000 - (u * v) div 1000")
                      .alias("res_e3")))
    m = scored.agg(
        F.count(F.lit(1)).alias("n"), F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("res_e3") * F.col("res_e3")).alias("sse_e6"))
    uc = u.agg(F.sum(F.col("u") * (F.col("c") % 97 + 1)).alias("ucs"),
               F.count(F.lit(1)).alias("nu"))
    vc = v.agg(F.sum(F.col("v") * (F.col("p") % 97 + 1)).alias("vcs"),
               F.count(F.lit(1)).alias("nv"))
    return (m.crossJoin(F.broadcast(uc)).crossJoin(F.broadcast(vc))
            .select(F.col("n").alias("n_ratings"),
                    F.col("nu").alias("n_users"),
                    F.col("nv").alias("n_items"),
                    F.col("ucs").alias("u_checksum"),
                    F.col("vcs").alias("v_checksum"),
                    F.expr("sse_e6 div n").alias("mse_model_e3"),
                    F.expr("cast(floor(1000000.0"
                           " * (cast(sqq as double) / n"
                           " - (cast(sq as double) / n)"
                           " * (cast(sq as double) / n))) as bigint)")
                     .alias("mse_baseline_e3")))


_ALS_SQL = """
WITH r AS MATERIALIZED (
    SELECT o.o_custkey AS c, l.l_partkey AS p,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
u0 AS (
    SELECT c, CAST(sum(q * 1000) AS BIGINT) * 1000000
              // CAST(sum(1000 * 1000) AS BIGINT) AS u
    FROM r GROUP BY c
),
v1 AS (
    SELECT p, CAST(sum(q * u) AS BIGINT) * 1000000
              // greatest(CAST(sum(u * u) AS BIGINT), 1) AS v
    FROM r JOIN u0 USING (c) GROUP BY p
),
u1 AS (
    SELECT c, CAST(sum(q * v) AS BIGINT) * 1000000
              // greatest(CAST(sum(v * v) AS BIGINT), 1) AS u
    FROM r JOIN v1 USING (p) GROUP BY c
),
scored AS (
    SELECT r.q, r.q * 1000 - (u1.u * v1.v) // 1000 AS res_e3
    FROM r JOIN u1 USING (c) JOIN v1 USING (p)
),
m AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq,
           CAST(sum(q * q) AS BIGINT) AS sqq,
           CAST(sum(res_e3 * res_e3) AS BIGINT) AS sse_e6
    FROM scored
),
uc AS (SELECT CAST(sum(u * (c % 97 + 1)) AS BIGINT) AS ucs,
              CAST(count(*) AS BIGINT) AS nu FROM u1),
vc AS (SELECT CAST(sum(v * (p % 97 + 1)) AS BIGINT) AS vcs,
              CAST(count(*) AS BIGINT) AS nv FROM v1)
SELECT m.n AS n_ratings, uc.nu AS n_users, vc.nv AS n_items,
       uc.ucs AS u_checksum, vc.vcs AS v_checksum,
       m.sse_e6 // m.n AS mse_model_e3,
       CAST(floor(1000000.0 * (CAST(m.sqq AS DOUBLE) / m.n
            - (CAST(m.sq AS DOUBLE) / m.n)
              * (CAST(m.sq AS DOUBLE) / m.n))) AS BIGINT)
           AS mse_baseline_e3
FROM m CROSS JOIN uc CROSS JOIN vc
"""

QUERIES["als_rank1_sweep"] = (als_rank1_sweep, _ALS_SQL)
