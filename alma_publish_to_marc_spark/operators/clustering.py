"""Iterative k-means (Lloyd) refinement over the embedding corpus —
the quantizer-training step in front of the IVF ANN index
(`operators/similarity.py::ivf_topk` uses fixed seed centroids; this is
the refinement loop that would produce better ones).

Everything runs in **fixed-point integer space** so the computation is
bit-exact across engines and cluster layouts:

- vectors quantize to ``round(x * 1000)`` BIGINT components;
- distances are integer squared-L2 via a deterministic left fold;
- centroid updates are ``floor(sum / count)`` — the sums are exact
  integers and IEEE double division is correctly rounded, so the floor
  is identical everywhere.

Shapes at 100 TB: centroids are driver-held tiny round state (k·DIM
ints — the Weiszfeld/IPF idiom), so assignment is pure scan-fused
per-row argmin over a LITERAL centroid array (zero shuffles — the
former broadcast-join + per-vec_id window reshuffled the whole corpus
every round); the update is ONE map-side-combinable groupBy(cell) with
DIM component sums collected back to the driver (k rows). Each Lloyd
round costs one corpus scan and one k-row exchange, nothing else.

The DuckDB oracle unrolls the same two Lloyd iterations as CTEs — like
the recursive-CTE components oracle, proof the iteration is genuinely
engine-independent arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import fan_out, load, persist

Q_SCALE = 1000
DIM = 64
N_ITERS = 2
# spread seed ids (same spirit as similarity_queries.CENTROID_IDS)
SEED_IDS = [10, 40, 70, 100, 130, 160, 190, 220, 250, 280,
            310, 340, 370, 400, 430, 460]


def _quantized(emb: DataFrame) -> DataFrame:
    q = F.transform("embedding",
                    lambda x: F.round(x.cast("double") * Q_SCALE, 0)
                               .cast("long"))
    return emb.select("vec_id", q.alias("v"))


def _sq_dist(a, b):
    """Integer squared-L2, deterministic left fold from 0."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)


def _lit_cents(cents: list[tuple[int, list[int]]]) -> str:
    """Literal array<struct<cent_id, cv>> as ONE Spark-SQL expression
    string from driver-held centroids (k x DIM small ints — the
    sanctioned tiny round state). A string, not nested F.lit calls:
    building k·DIM literals through the Python column API is ~3,000
    py4j round trips (~4.4 s of pure driver time per _assign, measured
    r11); one F.expr parse of the same tree is milliseconds."""
    return "array(" + ", ".join(
        f"named_struct('cent_id', {int(cid)}L, 'cv', array("
        + ", ".join(f"{int(x)}L" for x in cv) + "))"
        for cid, cv in cents) + ")"


def _assign(vecs: DataFrame, cents: list[tuple[int, list[int]]],
            with_dist: bool = False) -> DataFrame:
    """Nearest centroid per vector; ties break to the lowest cent_id.

    Centroids ride as a LITERAL array (driver-collected each round —
    the Weiszfeld/IPF tiny-round-state idiom), so assignment is pure
    scan-fused per-row compute: argmin = array_min over
    struct(d, cent_id) (lexicographic struct order == the former
    row_number ORDER BY d, cent_id — bit-identical tie-break). The
    r9-r11 shape (broadcast join + per-vec_id window) reshuffled the
    ENTIRE corpus by vec_id every Lloyd round at any scale — guide
    §2.4: that exchange is not fundamental to the operation, so it is
    gone, along with one AQE stage per round of driver latency. The
    whole expression is one F.expr parse (see _lit_cents)."""
    best = F.expr(
        "array_min(transform(" + _lit_cents(cents) + ", c -> "
        "named_struct('d', aggregate(zip_with(v, c.cv, "
        "(x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), "
        "(acc, x) -> acc + x), 'cent_id', c.cent_id)))")
    cols = [F.col("vec_id"), F.col("v"),
            best["cent_id"].alias("cell")]
    if with_dist:
        cols.append(best["d"].alias("d"))
    return vecs.select(*cols)


def _update(assigned: DataFrame) -> list[tuple[int, list[int]]]:
    """New centroids = element-wise floor-mean in quantized space,
    collected to the driver (k x DIM ints). ONE map-side-combinable
    exchange: groupBy(cell) with count + DIM component sums (all exact
    int64), floor(sum/count) evaluated in SQL so the IEEE
    double-division + floor is the identical expression the oracle
    runs (never re-derived in Python)."""
    # expr strings, not per-component Column calls: ~6 py4j round
    # trips per dimension x DIM=64 adds ~1 s of driver time per round
    # through the Python column API (same pathology as _lit_cents).
    aggs = [F.expr("count(1) AS n")] + [
        F.expr(f"sum(element_at(v, {i + 1})) AS s{i}") for i in range(DIM)]
    cv = F.expr("array(" + ", ".join(
        f"CAST(floor(s{i} / n) AS BIGINT)" for i in range(DIM)) + ")")
    rows = (assigned.groupBy("cell").agg(*aggs)
            .select(F.col("cell").alias("cent_id"), cv.alias("cv"))
            .collect())
    return sorted((r["cent_id"], list(r["cv"])) for r in rows)


def _cents_df(spark, cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Driver-held centroids as a (cent_id, cv) frame for consumers
    that join or post-process them (ivf_topk, checksum reports)."""
    return spark.createDataFrame(
        [(int(cid), [int(x) for x in cv]) for cid, cv in cents],
        "cent_id long, cv array<long>")


def _seeded_vecs(emb: DataFrame, seed_ids: list[int]
                 ) -> tuple[DataFrame, list[tuple[int, list[int]]]]:
    """(vecs, cents0): the corpus persisted in quantized integer space
    and the seed vectors as driver-held (cent_id, cv) centroids. The
    seed collect doubles as the persist materialization, so later
    passes read the cache."""
    # fan_out BEFORE the persist: the driver testdata scan is one task
    # (single row group), so without it every downstream _assign — an
    # interpreted k x DIM HOF fold per row — serializes on one core of
    # local[32] for every Lloyd round and final assignment (measured
    # r11: ann_index_incremental 27.6 s one-task vs 3.3 s baseline).
    # Guide §2.5 input-skew rule; no-op on >=defaultParallelism inputs.
    vecs = persist(fan_out(_quantized(emb), "vec_id"))
    seed_rows = (vecs.where(F.col("vec_id").isin(seed_ids))
                 .select(F.col("vec_id").alias("cent_id"),
                         F.col("v").alias("cv")).collect())
    return vecs, sorted((r["cent_id"], list(r["cv"])) for r in seed_rows)


def _refined_int_cents(emb: DataFrame, seed_ids: list[int],
                       n_iters: int) -> tuple[DataFrame,
                                              list[tuple[int, list[int]]]]:
    """(vecs, cents) after n_iters Lloyd rounds: vecs persisted in
    quantized integer space, cents as the driver-held (cent_id, cv)
    list (k x DIM ints — tiny round state)."""
    vecs, cents = _seeded_vecs(emb, seed_ids)
    for _ in range(n_iters):
        cents = _update(_assign(vecs, cents))
    return vecs, cents


def dequant_cents(spark: SparkSession,
                  cents: list[tuple[int, list[int]]]) -> DataFrame:
    """Driver-held integer centroids de-quantized back to embedding
    space (integer/Q_SCALE is a single correctly-rounded IEEE division,
    so both engines produce identical doubles)."""
    return _cents_df(spark, cents).select(
        "cent_id",
        F.transform("cv", lambda x: x.cast("double") / Q_SCALE).alias("cv"))


def refined_centroids(emb: DataFrame, seed_ids: list[int] | None = None,
                      n_iters: int = N_ITERS) -> DataFrame:
    """The trained coarse quantizer for :func:`similarity.ivf_topk`:
    (cent_id, cv: array<double>) after ``n_iters`` Lloyd rounds."""
    _, cents = _refined_int_cents(emb, seed_ids or SEED_IDS, n_iters)
    return dequant_cents(emb.sparkSession, cents)


def kmeans_refine(emb: DataFrame, seed_ids: list[int],
                  n_iters: int = N_ITERS) -> DataFrame:
    """n_iters Lloyd rounds from data-point seeds; returns per-cell
    size and an integer centroid checksum (sum of cv[d]·(d+1))."""
    vecs, cents = _refined_int_cents(emb, seed_ids, n_iters)
    final = _assign(vecs, cents)
    sizes = final.groupBy("cell").agg(F.count(F.lit(1)).alias("n_vecs"))
    checksum = _cents_df(emb.sparkSession, cents).select(
        F.col("cent_id").alias("cell"),
        F.aggregate(
            F.zip_with(F.col("cv"),
                       F.sequence(F.lit(1).cast("long"), F.lit(DIM).cast("long")),
                       lambda c, i: c * i),
            F.lit(0).cast("long"), lambda a, x: a + x).alias("centroid_checksum"))
    return sizes.join(F.broadcast(checksum), "cell")


def _kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return kmeans_refine(load(spark, sf_dir, "embeddings"), SEED_IDS)


_QV = ("list_transform(embedding, "
       f"x -> CAST(round(CAST(x AS DOUBLE) * {Q_SCALE}, 0) AS BIGINT))")
_DIST = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
         f"list_transform(range(1, {DIM} + 1), "
         "i -> (a.v[i] - c.cv[i]) * (a.v[i] - c.cv[i]))), "
         "(x, y) -> x + y)")


def _assign_sql(vec_cte: str, cent_cte: str) -> str:
    return f"""
    SELECT vec_id, v, cell FROM (
        SELECT a.vec_id, a.v, c.cent_id AS cell,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_DIST}, c.cent_id) AS r
        FROM {vec_cte} a CROSS JOIN {cent_cte} c
    ) WHERE r = 1"""


def _update_sql(assign_cte: str) -> str:
    return f"""
    SELECT cell AS cent_id, list(cval ORDER BY pos) AS cv FROM (
        SELECT cell, pos,
               CAST(floor(sum(v[pos]) / count(*)) AS BIGINT) AS cval
        FROM {assign_cte}, unnest(generate_series(1, {DIM})) AS t(pos)
        GROUP BY cell, pos
    ) GROUP BY cell"""


_SEEDS = ", ".join(map(str, SEED_IDS))


def kmeans_cents_cte(n_iters: int = N_ITERS, prefix: str = "",
                     where: str = "") -> str:
    """CTE chain ``vecs, c0, a0, c1, … c{n_iters}`` whose last table is
    the refined quantized-integer centroid set — composable into other
    oracles (the refined-quantizer IVF query reuses it). ``prefix``
    namespaces every CTE (two chains can coexist in one oracle, e.g.
    base-trained vs full-trained for incremental index maintenance);
    ``where`` filters the training corpus (e.g. " WHERE vec_id % 10
    <> 5" to exclude a not-yet-arrived batch)."""
    v = f"{prefix}vecs"
    parts = [f"{v} AS (SELECT vec_id, {_QV} AS v FROM embeddings{where})",
             f"{prefix}c0 AS (SELECT vec_id AS cent_id, v AS cv FROM {v}\n"
             f"       WHERE vec_id IN ({_SEEDS}))"]
    for i in range(n_iters):
        parts.append(f"{prefix}a{i} AS ({_assign_sql(v, f'{prefix}c{i}')})")
        parts.append(f"{prefix}c{i + 1} AS ({_update_sql(f'{prefix}a{i}')})")
    return ",\n".join(parts)


_KMEANS_SQL = f"""
WITH {kmeans_cents_cte()},
a2 AS ({_assign_sql('vecs', 'c2')}),
sizes AS (SELECT cell, count(*) AS n_vecs FROM a2 GROUP BY cell),
checks AS (
    SELECT cent_id AS cell,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(range(1, {DIM} + 1), i -> cv[i] * i)),
               (x, y) -> x + y) AS centroid_checksum
    FROM c2
)
SELECT sizes.cell, n_vecs, centroid_checksum
FROM sizes JOIN checks USING (cell)
"""


QUERIES = {
    "kmeans_fixed_point": (_kmeans_query, _KMEANS_SQL),
}


# --------------------------------------------------------------------------
# pca_power_iteration: dominant principal component, fixed-point rounds
# --------------------------------------------------------------------------
PCA_ROUNDS = 2
PCA_V0 = 0.125   # 1/8: exact binary start vector (unit for DIM=64)


def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the (mean-centered) embedding
    corpus by power iteration — the linear-algebra member of the
    iterative family (k-means, logreg, PageRank, BPE): v ← normalize
    (Σᵢ cᵢ (cᵢ·v)), ``PCA_ROUNDS`` unrolled rounds from the exact-
    binary start vector 1/8·𝟙.

    Determinism (the clustering.py recipe): per-row contributions
    c_j·(c·v) quantize to micro ints, so the per-dimension accumulation
    is an exact integer sum; the iterate renormalizes through ONE
    ordered-list fold (collect→sort→fold — never a bare SUM over
    doubles) and re-quantizes to micro units. The Rayleigh eigenvalue
    sums milli-quantized squared projections — exact int64.

    Scale: each round is one corpus scan → posexplode → 64-group
    map-side-combinable aggregation; the 64-row state rebuilds into a
    1-row broadcast array. Same driver-paced shape as k-means; at
    100 TB subsequent components would deflate and repeat.
    """
    from . import similarity as S

    e = (load(spark, sf_dir, "embeddings")
         .select("vec_id", S.as_double(F.col("embedding")).alias("v")))
    mean_vec = (e.select(F.posexplode("v").alias("pos", "x"))
                .groupBy("pos").agg(F.round(F.avg("x"), 4).alias("m"))
                .groupBy()
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                .select(F.transform("pm", lambda s: s["m"]).alias("mean_v")))
    cent = (e.crossJoin(F.broadcast(mean_vec))
            .select("vec_id",
                    F.zip_with("v", "mean_v", lambda a, b: a - b)
                     .alias("c")))
    vt = spark.range(1).select(
        F.array(*[F.lit(PCA_V0)] * DIM).alias("pv"))
    d = None
    for _ in range(PCA_ROUNDS):
        d = (cent.crossJoin(F.broadcast(vt))
             .select("vec_id", "c",
                     S.dot(F.col("c"), F.col("pv")).alias("dot")))
        s = (d.select(F.posexplode("c").alias("pos", "x"), "dot")
             .select("pos",
                     F.expr("cast(round(x * dot * 1000000, 0) as bigint)")
                      .alias("ci"))
             .groupBy("pos").agg(F.sum("ci").alias("s")))
        vt = (s.groupBy()
              .agg(F.array_sort(F.collect_list(F.struct("pos", "s")))
                    .alias("ps"))
              .select(F.expr(
                  "transform(ps, t -> cast(t.s as double))").alias("ls"))
              .select("ls", F.expr(
                  "sqrt(aggregate(transform(ls, y -> y * y),"
                  " cast(0.0 as double), (a, b) -> a + b))").alias("nm"))
              .select(F.expr(
                  "transform(ls, x -> round(1000000 * x / nm, 0)"
                  " / 1000000)").alias("pv")))
    final = (cent.crossJoin(F.broadcast(vt))
             .select(S.dot(F.col("c"), F.col("pv")).alias("dot")))
    lam = final.agg(F.round(
        F.sum(F.expr("cast(round(dot * 1000, 0) as bigint)"
                     " * cast(round(dot * 1000, 0) as bigint)"))
        / 1e6 / F.count(F.lit(1)), 4).alias("eigenvalue"))
    return (vt.select(F.posexplode("pv").alias("pos", "component"))
            .crossJoin(F.broadcast(lam))
            .select((F.col("pos") + 1).cast("int").alias("dim"),
                    F.round("component", 6).alias("component"),
                    "eigenvalue"))


def _pca_sql() -> str:
    from .similarity_queries import _sql_dot, _sql_vec

    v0 = "[" + ", ".join([repr(PCA_V0)] * DIM) + "]"
    fold_sq = ("list_reduce(list_prepend(0.0, list_transform(ls,"
               " y -> y * y)), (a, b) -> a + b)")
    ctes = [f"e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings)",
            f"""pos AS (
    SELECT t.i AS pos, round(avg(v[t.i]), 4) AS m
    FROM e, generate_series(1, {DIM}) AS t(i) GROUP BY t.i
)""",
            """mv AS (
    SELECT list_transform(list_sort(list(struct_pack(pos := pos, m := m))),
                          s -> s.m) AS mean_v
    FROM pos
)""",
            f"""cent AS (
    SELECT vec_id,
           list_transform(range(1, {DIM} + 1), i -> v[i] - mean_v[i]) AS c
    FROM e CROSS JOIN mv
)""",
            f"v0 AS (SELECT {v0} AS pv)"]
    for t in range(PCA_ROUNDS):
        ctes.append(f"""d{t} AS (
    SELECT vec_id, c, {_sql_dot('c', 'pv')} AS dot
    FROM cent CROSS JOIN v{t}
)""")
        ctes.append(f"""s{t} AS (
    SELECT t.i AS pos,
           CAST(sum(CAST(round(c[t.i] * dot * 1000000, 0) AS BIGINT))
                AS BIGINT) AS s
    FROM d{t}, generate_series(1, {DIM}) AS t(i) GROUP BY t.i
)""")
        ctes.append(f"""l{t} AS (
    SELECT list_transform(list_sort(list(struct_pack(pos := pos, s := s))),
                          x -> CAST(x.s AS DOUBLE)) AS ls
    FROM s{t}
)""")
        ctes.append(f"""v{t + 1} AS (
    SELECT list_transform(ls, x -> round(1000000 * x / sqrt({fold_sq}), 0)
                          / 1000000) AS pv
    FROM l{t}
)""")
    ctes.append(f"""df AS (
    SELECT {_sql_dot('c', 'pv')} AS dot FROM cent CROSS JOIN v{PCA_ROUNDS}
)""")
    ctes.append("""lam AS (
    SELECT round(sum(CAST(round(dot * 1000, 0) AS BIGINT)
                     * CAST(round(dot * 1000, 0) AS BIGINT))
                 / 1e6 / count(*), 4) AS eigenvalue
    FROM df
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(t.i AS INT) AS dim, round(pv[t.i], 6) AS component, eigenvalue
FROM v{PCA_ROUNDS}, generate_series(1, {DIM}) AS t(i) CROSS JOIN lam
""")


QUERIES["pca_power_iteration"] = (pca_power_iteration, _pca_sql())


# --------------------------------------------------------------------------
# embedding_corr_pairs: most-correlated dimension pairs (Gram-matrix mining)
# --------------------------------------------------------------------------
CORR_TOPK = 10


def embedding_corr_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-redundancy mining: the ``CORR_TOPK`` most-correlated
    embedding dimension pairs, from one distributed pass that builds
    the full moment matrix (Σx_i, Σx_i², Σx_i·x_j) — the X^T X
    building block behind exact PCA/linear regression, here surfaced
    as the dimension-dedup diagnostic (|corr|≈1 dims waste index
    space).

    Determinism: all moments are micro/milli-quantized exact integer
    sums (posexplode pairs → map-side combine over 64·65/2 cells);
    Pearson r is one identical float expression rounded. Scale: the
    pair explode is dim²/2 per row — fine at 64 dims; at 1k+ dims
    you'd block the Gram matrix, same shape per block.
    """
    from . import similarity as S

    e = (load(spark, sf_dir, "embeddings")
         .select(S.as_double(F.col("embedding")).alias("v")))
    # milli-quantized components: products stay exact int64
    q = e.select(F.expr(
        "transform(v, x -> cast(round(x * 1000, 0) as bigint))").alias("q"))
    pairs = q.select(F.expr(f"""
        flatten(transform(sequence(0, {DIM - 2}), i ->
            transform(sequence(i + 1, {DIM - 1}), j ->
                struct(i as i, j as j,
                       q[i] as xi, q[j] as xj))))
    """).alias("ps"))
    cells = (pairs.select(F.explode("ps").alias("p"))
             .select(F.col("p.i").alias("i"), F.col("p.j").alias("j"),
                     F.col("p.xi").alias("xi"), F.col("p.xj").alias("xj"))
             .groupBy("i", "j")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("xi").alias("si"), F.sum("xj").alias("sj"),
                  F.sum(F.col("xi") * F.col("xi")).alias("sii"),
                  F.sum(F.col("xj") * F.col("xj")).alias("sjj"),
                  F.sum(F.col("xi") * F.col("xj")).alias("sij")))
    r = ("(n * sij - si * sj) / "
         "(sqrt(cast(n * sii - si * si as double))"
         " * sqrt(cast(n * sjj - sj * sj as double)))")
    return (cells.select(F.col("i").cast("int").alias("dim_i"),
                         F.col("j").cast("int").alias("dim_j"),
                         F.expr(f"round({r}, 6)").alias("pearson_r"))
            .orderBy(F.desc(F.abs(F.col("pearson_r"))), F.asc("dim_i"),
                     F.asc("dim_j"))
            .limit(CORR_TOPK))


def _corr_sql() -> str:
    r = ("(n * sij - si * sj) / "
         "(sqrt(CAST(n * sii - si * si AS DOUBLE))"
         " * sqrt(CAST(n * sjj - sj * sj AS DOUBLE)))")
    return f"""
WITH q AS (
    SELECT list_transform(list_transform(embedding,
               x -> CAST(x AS DOUBLE)),
               x -> CAST(round(x * 1000, 0) AS BIGINT)) AS q
    FROM embeddings
),
cells AS (
    SELECT i, j, count(*) AS n,
           CAST(sum(xi) AS BIGINT) AS si, CAST(sum(xj) AS BIGINT) AS sj,
           CAST(sum(xi * xi) AS BIGINT) AS sii,
           CAST(sum(xj * xj) AS BIGINT) AS sjj,
           CAST(sum(xi * xj) AS BIGINT) AS sij
    FROM (
        SELECT t.i, u.j, q[t.i + 1] AS xi, q[u.j + 1] AS xj
        FROM q, generate_series(0, {DIM - 1}) AS t(i),
             generate_series(0, {DIM - 1}) AS u(j)
        WHERE u.j > t.i
    ) GROUP BY i, j
)
SELECT CAST(i AS INT) AS dim_i, CAST(j AS INT) AS dim_j,
       round({r}, 6) AS pearson_r
FROM cells
ORDER BY abs(round({r}, 6)) DESC, dim_i ASC, dim_j ASC
LIMIT {CORR_TOPK}
"""


QUERIES["embedding_corr_pairs"] = (embedding_corr_pairs, _corr_sql())


# --------------------------------------------------------------------------
# k-means coreset sensitivity census
# --------------------------------------------------------------------------
def _kmeans_coreset_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coreset-construction statistics over the refined quantizer: each
    vector's SENSITIVITY (squared distance to its nearest centroid) is
    the importance weight coreset sampling draws by (Feldman-Langberg
    lightweight coresets) — the standard route to running k-means on a
    100 TB corpus by clustering a few-million-point weighted sample
    instead. Per cell: vector count, total sensitivity mass, the
    cell's share of global mass (where the sampler will spend its
    budget), and the highest-sensitivity vector (the outlier a coreset
    must keep). Output: (cell, n_vecs, sum_sens, share_e6, top_vec_id,
    top_sens).

    Determinism: distances are exact integer squared-L2 in quantized
    space; assignment ties break to the lowest cent_id, the per-cell
    arg-max to the lowest vec_id (struct-min on (−d, vec_id)); the
    share is an integer e6 div.

    Scale: one scan-fused literal-centroid assignment pass (the
    ``_assign`` shape — zero shuffles), one cell-keyed aggregate
    (≤ |cells| rows), one 1-row global mass broadcast.
    """
    from ..tables import load

    emb = load(spark, sf_dir, "embeddings")
    vecs, cents = _refined_int_cents(emb, SEED_IDS, N_ITERS)
    assigned = (_assign(vecs, cents, with_dist=True)
                .select("vec_id", "cell", "d"))
    tot = F.broadcast(assigned.agg(F.sum("d").alias("tot_sens")))
    top = F.min(F.struct((-F.col("d")).alias("negd"),
                         F.col("vec_id").alias("v")))
    return (assigned.crossJoin(tot)
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum("d").alias("sum_sens"),
                 F.expr("(1000000 * sum(d)) div greatest(max(tot_sens), 1)")
                  .alias("share_e6"),
                 top.getField("v").alias("top_vec_id"),
                 (-top.getField("negd")).alias("top_sens")))


def _coreset_sql() -> str:
    return f"""
WITH {kmeans_cents_cte()},
scored AS (
    SELECT a.vec_id, c.cent_id AS cell, {_DIST} AS d,
           row_number() OVER (PARTITION BY a.vec_id
                              ORDER BY {_DIST}, c.cent_id) AS r
    FROM vecs a CROSS JOIN c{N_ITERS} c
),
assigned AS (SELECT vec_id, cell, d FROM scored WHERE r = 1),
tot AS (SELECT CAST(sum(d) AS BIGINT) AS tot_sens FROM assigned)
SELECT cell, count(*) AS n_vecs, CAST(sum(d) AS BIGINT) AS sum_sens,
       (1000000 * CAST(sum(d) AS BIGINT)) // greatest(max(tot_sens), 1)
           AS share_e6,
       (min(struct_pack(negd := -d, v := vec_id))).v AS top_vec_id,
       -((min(struct_pack(negd := -d, v := vec_id))).negd) AS top_sens
FROM assigned CROSS JOIN tot
GROUP BY cell
"""


QUERIES["kmeans_coreset_weights"] = (_kmeans_coreset_weights,
                                     _coreset_sql())


# ---------------------------------------------------------------------------
# Sampled silhouette of the refined quantizer (squared-L2 variant)
# ---------------------------------------------------------------------------

SIL_MOD = 25  # probe panel: vec_id % SIL_MOD == 0


def _silhouette_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality eval for the trained quantizer: silhouette on
    squared L2 for a fixed probe panel — a(p) = mean squared distance
    to p's own cell (self excluded), b(p) = the best other cell's
    mean, s = (b-a)/max(a,b). Squared distances keep every pairwise
    term an exact int64 (a per-pair sqrt would make the group means
    order-dependent float sums — the CLAUDE.md reduction hazard — so
    the documented variant trades metricity for exactness). Output
    per probe: (vec_id, cell, n_own, a_q2, b_q2, silhouette_e6).

    Scale: panel broadcast against the assigned corpus — ONE scan
    computes every (probe, vec) squared distance, reduced map-side to
    (probe, cell) sums; the a/b comparison runs on panel x cells
    rows. Evaluation cost is O(panel * corpus), the ann_recall_eval
    shape.
    """
    emb = load(spark, sf_dir, "embeddings")
    vecs, cents = _refined_int_cents(emb, SEED_IDS, N_ITERS)
    assigned = persist(_assign(vecs, cents))
    probes = (assigned.where(F.col("vec_id") % SIL_MOD == 0)
              .select(F.col("vec_id").alias("pid"),
                      F.col("v").alias("pv"),
                      F.col("cell").alias("pcell")))
    pairs = (assigned.join(F.broadcast(probes),
                           F.col("vec_id") != F.col("pid"))
             .select("pid", "pcell", "cell",
                     _sq_dist(F.col("v"), F.col("pv")).alias("d2")))
    g = (pairs.groupBy("pid", "pcell", "cell")
         .agg(F.sum("d2").alias("s"), F.count(F.lit(1)).alias("n")))
    own = (g.where(F.col("cell") == F.col("pcell"))
           .select("pid", F.col("n").alias("n_own"),
                   (F.col("s").cast("double") / F.col("n")).alias("a")))
    other = (g.where(F.col("cell") != F.col("pcell"))
             .groupBy("pid")
             .agg(F.min(F.col("s").cast("double") / F.col("n"))
                  .alias("b")))
    return (probes.select("pid", "pcell")
            .join(own, "pid").join(other, "pid")
            .select(F.col("pid").alias("vec_id"),
                    F.col("pcell").alias("cell"), "n_own",
                    F.expr("cast(floor(a) as bigint)").alias("a_q2"),
                    F.expr("cast(floor(b) as bigint)").alias("b_q2"),
                    F.expr("cast(floor(1000000.0 * (b - a)"
                           " / greatest(a, b)) as bigint)")
                     .alias("silhouette_e6")))


_SIL_DIST = ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
             f"list_transform(range(1, {DIM} + 1), "
             "i -> (a.v[i] - p.pv[i]) * (a.v[i] - p.pv[i]))), "
             "(x, y) -> x + y)")

_SIL_SQL = f"""
WITH {kmeans_cents_cte()},
af AS ({_assign_sql('vecs', f'c{N_ITERS}')}),
probes AS (
    SELECT vec_id AS pid, v AS pv, cell AS pcell
    FROM af WHERE vec_id % {SIL_MOD} = 0
),
pairs AS (
    SELECT p.pid, p.pcell, a.cell, {_SIL_DIST} AS d2
    FROM af a CROSS JOIN probes p
    WHERE a.vec_id <> p.pid
),
g AS (
    SELECT pid, pcell, cell, CAST(sum(d2) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2, 3
),
own AS (
    SELECT pid, n AS n_own, CAST(s AS DOUBLE) / n AS a
    FROM g WHERE cell = pcell
),
other AS (
    SELECT pid, min(CAST(s AS DOUBLE) / n) AS b
    FROM g WHERE cell <> pcell GROUP BY pid
)
SELECT p.pid AS vec_id, p.pcell AS cell, o.n_own,
       CAST(floor(o.a) AS BIGINT) AS a_q2,
       CAST(floor(t.b) AS BIGINT) AS b_q2,
       CAST(floor(1000000.0 * (t.b - o.a) / greatest(o.a, t.b))
            AS BIGINT) AS silhouette_e6
FROM probes p JOIN own o USING (pid) JOIN other t USING (pid)
"""

QUERIES["kmeans_silhouette_sampled"] = (_silhouette_query, _SIL_SQL)
