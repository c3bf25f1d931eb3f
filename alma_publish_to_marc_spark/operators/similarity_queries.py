"""Oracle-checked similarity-search queries over `embeddings`."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, persist
from . import similarity as S

QUERY_IDS = [0, 1, 2, 3, 4]
K = 10


def _sql_vec(col: str = "embedding") -> str:
    return f"list_transform({col}, x -> CAST(x AS DOUBLE))"


def _sql_dot(a: str, b: str) -> str:
    """Left fold from 0.0 — same order as similarity.dot."""
    return (f"list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, {S.DIM} + 1), i -> {a}[i] * {b}[i])), "
            f"(acc, x) -> acc + x)")


def _sql_norm(a: str) -> str:
    return (f"sqrt(list_reduce(list_prepend(0.0, "
            f"list_transform({a}, x -> x * x)), (acc, x) -> acc + x))")


def _sql_plane(j: int, planes: list[list[float]] | None = None) -> str:
    src = planes if planes is not None else S.HYPERPLANES
    return "[" + ", ".join(repr(v) for v in src[j]) + "]"


def _sql_bucket(v: str, planes: list[list[float]] | None = None) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_sql_dot(v, _sql_plane(j, planes))} >= 0 "
        f"THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for j in range(S.N_PLANES))
    return f"({bits})"


def _brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K)


_BRUTE_SQL = f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
pairs AS (
    SELECT q.qid, e.vec_id,
           round({_sql_dot('q.qv', 'e.v')}
                 / ({_sql_norm('q.qv')} * {_sql_norm('e.v')}), 6) AS cosine
    FROM e JOIN q ON e.vec_id <> q.qid
),
ranked AS (
    SELECT qid, vec_id AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM pairs
)
SELECT qid, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K}
"""


def _lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, "vec_id", "embedding", QUERY_IDS, K)


_LSH_SQL = f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v,
                  {_sql_bucket(_sql_vec())} AS bucket
           FROM embeddings),
q0 AS (SELECT vec_id AS qid, v AS qv, bucket FROM e
       WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
q AS (SELECT qid, qv, xor(bucket, m) AS bucket
      FROM q0, unnest([{", ".join(
          f"CAST({m} AS BIGINT)" for m in S.probe_masks())}]) AS t(m)),
pairs AS (
    SELECT q.qid, e.vec_id,
           round({_sql_dot('q.qv', 'e.v')}
                 / ({_sql_norm('q.qv')} * {_sql_norm('e.v')}), 6) AS cosine
    FROM e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.qid
),
ranked AS (
    SELECT qid, vec_id AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM pairs
)
SELECT qid, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K}
"""


def _augmented_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus augmented with scaled copies (cosine-invariant → exact
    near-dups) for every 10th vector, mirroring the oracle's CTE."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # variant ids offset by max(vec_id)+1, never a fixed constant that a
    # bigger scale factor could alias (both engines derive the same value)
    off = F.broadcast(emb.agg((F.max("vec_id") + F.lit(1)).alias("_id_off")))
    variants = (emb.where(F.col("vec_id") % 10 == 0)
                .crossJoin(off)
                .select((F.col("vec_id") + F.col("_id_off")).alias("vec_id"),
                        F.transform("embedding", lambda x: x * F.lit(0.5))
                         .alias("embedding")))
    return emb.unionByName(variants)


_CORPUS_CTE = """corpus AS (
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
           list_transform(embedding, x -> x * 0.5) AS embedding
    FROM embeddings WHERE vec_id % 10 = 0
)"""


def _neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _augmented_corpus(spark, sf_dir)
    return S.embedding_neardup_pairs(corpus, "vec_id", "embedding", threshold=0.9)


_NEARDUP_SQL = f"""
WITH {_CORPUS_CTE},
e AS (SELECT vec_id, {_sql_vec()} AS v FROM corpus),
bands AS (
{" UNION ALL ".join(
    f"SELECT vec_id, v, {band} AS band, "
    f"{_sql_bucket('v', planes)} AS sig FROM e"
    for band, planes in enumerate(S.BAND_PLANES))}
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_dot('a.v', 'b.v')}
                 / ({_sql_norm('a.v')} * {_sql_norm('b.v')}), 6) AS cosine
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
)
SELECT DISTINCT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.9
"""


# vec_ids spread across the id range at every sf (ids are dense from 0)
CENTROID_IDS = [10, 40, 70, 100, 130, 160, 190, 220, 250, 280,
                310, 340, 370, 400, 430, 460]
NPROBE = 2


def _ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                      CENTROID_IDS, K, NPROBE)


def _ivf_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over the k-means-refined quantizer instead of raw seed
    embeddings: clustering.refined_centroids runs the fixed-point Lloyd
    rounds (bit-exact in both engines), the centroids de-quantize to
    doubles, and the search plan is byte-for-byte the same ivf_topk —
    only the broadcast centroid table changes."""
    from .clustering import refined_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = refined_centroids(emb)
    return S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                      k=K, nprobe=NPROBE, centroids=cents)


def _ivf_sql(cents_sql: str, extra_ctes: str = "") -> str:
    """IVF search oracle parameterized by the centroid table: the seed
    quantizer passes a SELECT over ``e``; the refined quantizer prepends
    the k-means CTE chain and de-quantizes its last table."""
    return f"""
WITH {extra_ctes}e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
c AS ({cents_sql}),
scored AS (
    SELECT e.vec_id, e.v, c.cent_id,
           round({_sql_dot('e.v', 'c.cv')}
                 / ({_sql_norm('e.v')} * {_sql_norm('c.cv')}), 6) AS cs,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({_sql_dot('e.v', 'c.cv')}
                 / ({_sql_norm('e.v')} * {_sql_norm('c.cv')}), 6) DESC,
                              c.cent_id ASC) AS crank
    FROM e CROSS JOIN c
),
cells AS (SELECT vec_id, v, cent_id AS cell FROM scored WHERE crank = 1),
probes AS (
    SELECT vec_id AS qid, v AS qv, cent_id AS cell
    FROM scored
    WHERE crank <= {NPROBE}
      AND vec_id IN ({", ".join(map(str, QUERY_IDS))})
),
pairs AS (
    SELECT p.qid, cells.vec_id,
           round({_sql_dot('p.qv', 'cells.v')}
                 / ({_sql_norm('p.qv')} * {_sql_norm('cells.v')}), 6) AS cosine
    FROM cells JOIN probes p ON cells.cell = p.cell
    WHERE cells.vec_id <> p.qid
),
ranked AS (
    SELECT qid, vec_id AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM pairs
)
SELECT qid, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K}
"""


def _seed_cents_sql() -> str:
    return ("SELECT vec_id AS cent_id, v AS cv FROM e\n"
            f"      WHERE vec_id IN ({', '.join(map(str, CENTROID_IDS))})")


def _refined_cents_ctes() -> tuple[str, str]:
    from . import clustering as CL

    extra = CL.kmeans_cents_cte() + ",\n"
    cents = (f"SELECT cent_id, list_transform(cv, x -> x / {CL.Q_SCALE}.0) "
             f"AS cv FROM c{CL.N_ITERS}")
    return cents, extra


_IVF_SQL = _ivf_sql(_seed_cents_sql())
_IVF_REFINED_SQL = _ivf_sql(*_refined_cents_ctes())


def _recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of the two ANN paths (hyperplane-LSH, IVF)
    against the exact brute-force baseline, per probe query.

    This is the index-quality gate a production ANN deployment runs
    after every (re)build: ground truth is computed only for the fixed
    probe panel (queries broadcast → the exact pass is one shuffle-free
    corpus scan), so evaluation cost is O(panel × corpus), independent
    of how many live queries the index will serve. The joins between
    the three top-k frames are per-qid on ~k rows each — negligible.
    """
    from pyspark.sql import functions as F

    from .clustering import refined_centroids

    emb = load(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", "neighbor_id")
    lsh = S.lsh_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", F.col("neighbor_id").alias("lsh_id"))
    ivf = S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                     CENTROID_IDS, K, NPROBE) \
        .select("qid", F.col("neighbor_id").alias("ivf_id"))
    ivfr = S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                      k=K, nprobe=NPROBE,
                      centroids=refined_centroids(emb)) \
        .select("qid", F.col("neighbor_id").alias("ivfr_id"))
    joined = (exact
              .join(lsh, (exact.qid == lsh.qid)
                    & (exact.neighbor_id == lsh.lsh_id), "left")
              .drop(lsh.qid)
              .join(ivf, (exact.qid == ivf.qid)
                    & (exact.neighbor_id == ivf.ivf_id), "left")
              .drop(ivf.qid))
    joined = (joined
              .join(ivfr, (joined.qid == ivfr.qid)
                    & (joined.neighbor_id == ivfr.ivfr_id), "left")
              .drop(ivfr.qid))
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("lsh_id").isNotNull(), 1).otherwise(0))
         .alias("lsh_hits"),
        F.sum(F.when(F.col("ivf_id").isNotNull(), 1).otherwise(0))
         .alias("ivf_hits"),
        F.sum(F.when(F.col("ivfr_id").isNotNull(), 1).otherwise(0))
         .alias("ivf_refined_hits"),
        F.round(F.sum(F.when(F.col("lsh_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("lsh_recall"),
        F.round(F.sum(F.when(F.col("ivf_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("ivf_recall"),
        F.round(F.sum(F.when(F.col("ivfr_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("ivf_refined_recall"),
    )


_RECALL_SQL = f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({_BRUTE_SQL})),
lsh AS (SELECT qid, neighbor_id AS lsh_id FROM ({_LSH_SQL})),
ivf AS (SELECT qid, neighbor_id AS ivf_id FROM ({_IVF_SQL})),
ivfr AS (SELECT qid, neighbor_id AS ivfr_id FROM ({_IVF_REFINED_SQL})),
joined AS (
    SELECT e.qid, e.neighbor_id, l.lsh_id, i.ivf_id, r.ivfr_id
    FROM exact e
    LEFT JOIN lsh l ON e.qid = l.qid AND e.neighbor_id = l.lsh_id
    LEFT JOIN ivf i ON e.qid = i.qid AND e.neighbor_id = i.ivf_id
    LEFT JOIN ivfr r ON e.qid = r.qid AND e.neighbor_id = r.ivfr_id
)
SELECT qid,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN lsh_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS lsh_hits,
       CAST(sum(CASE WHEN ivf_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS ivf_hits,
       CAST(sum(CASE WHEN ivfr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS ivf_refined_hits,
       round(sum(CASE WHEN lsh_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS lsh_recall,
       round(sum(CASE WHEN ivf_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS ivf_recall,
       round(sum(CASE WHEN ivfr_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS ivf_refined_recall
FROM joined
GROUP BY qid
"""


PQ_SEED_IDS = CENTROID_IDS[:S.PQ_KSUB]


def _pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_adc_topk(emb, "vec_id", "embedding", QUERY_IDS,
                         PQ_SEED_IDS, K)


def _sql_sub(v: str, m: int) -> str:
    return f"{v}[{1 + S.PQ_SUB * (m - 1)} : {S.PQ_SUB * m}]"


def _sql_l2sq(a: str, b: str) -> str:
    """Left-fold squared L2 over a subspace (same order as _l2sq)."""
    return (f"list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, {S.PQ_SUB} + 1), "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), "
            f"(acc, x) -> acc + x)")


def _pq_sql(k: int = K) -> str:
    d_cols = ",\n           ".join(
        _sql_l2sq("(" + _sql_sub("e.v", m) + ")",
                  "(" + _sql_sub("c.cv", m) + ")") + f" AS d{m}"
        for m in range(1, S.PQ_M + 1))
    code_cols = ",\n           ".join(
        f"(min(struct_pack(d := d{m}, cid := cent_id))).cid AS c{m}"
        for m in range(1, S.PQ_M + 1))
    qd_cols = ",\n           ".join(
        _sql_l2sq("(" + _sql_sub("q.qv", m) + ")",
                  "(" + _sql_sub("c.cv", m) + ")") + f" AS qd{m}"
        for m in range(1, S.PQ_M + 1))
    joins = "\n    ".join(
        f"JOIN qt q{m} ON q{m}.cent_id = codes.c{m}"
        + ("" if m == 1 else " AND q{m}.qid = q1.qid".format(m=m))
        for m in range(1, S.PQ_M + 1))
    total = " + ".join(f"q{m}.qd{m}" for m in range(1, S.PQ_M + 1))
    return f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
c AS (SELECT vec_id AS cent_id, v AS cv FROM e
      WHERE vec_id IN ({", ".join(map(str, PQ_SEED_IDS))})),
scored AS (
    SELECT e.vec_id, c.cent_id,
           {d_cols}
    FROM e CROSS JOIN c
),
codes AS (
    SELECT vec_id,
           {code_cols}
    FROM scored GROUP BY vec_id
),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
qt AS (
    SELECT q.qid, c.cent_id,
           {qd_cols}
    FROM q CROSS JOIN c
),
adc AS (
    SELECT q1.qid, codes.vec_id AS neighbor_id,
           round({total}, 6) AS adc_dist
    FROM codes
    {joins}
    WHERE codes.vec_id <> q1.qid
)
SELECT qid, neighbor_id, adc_dist,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY adc_dist ASC, neighbor_id ASC)
            AS INT) AS rank
FROM adc
QUALIFY rank <= {k}
"""


RERANK_SHORTLIST = 50


def _pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.pq_rerank_topk(emb, "vec_id", "embedding", QUERY_IDS,
                            PQ_SEED_IDS, K, RERANK_SHORTLIST)


def _pq_rerank_sql() -> str:
    return f"""
WITH cand AS (SELECT qid, neighbor_id FROM ({_pq_sql(RERANK_SHORTLIST)})),
e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
scored AS (
    SELECT c.qid, c.neighbor_id,
           round({_sql_dot('q.qv', 'e.v')}
                 / ({_sql_norm('q.qv')} * {_sql_norm('e.v')}), 6) AS cosine
    FROM cand c
    JOIN e ON e.vec_id = c.neighbor_id
    JOIN q ON q.qid = c.qid
)
SELECT qid, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY qid
                               ORDER BY cosine DESC, neighbor_id ASC)
            AS INT) AS rank
FROM scored
QUALIFY rank <= {K}
"""


def _pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@k of PQ/ADC against the exact cosine baseline —
    the index-quality gate for the compressed path (ADC ranks by
    L2 over un-normalized vectors, the exact panel by cosine, so this
    also measures the metric mismatch a deployment must budget for).
    Same shape as ann_recall_eval: ground truth only for the fixed
    probe panel, so cost is O(panel x corpus).

    Measured at sf0.01: recall@10 of 0.0-0.4 per query (mean ~0.14) —
    the honest number for an 8-centroid codebook on uniform-random
    vectors (PQ's worst case: no cluster structure to quantize, plus
    the L2-vs-cosine mismatch). Real embedding corpora sit far higher;
    the production knobs are KSUB (k-means-trained, per subspace) and
    a re-rank of the top ADC candidates with exact distances."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", "neighbor_id")
    pq = S.pq_adc_topk(emb, "vec_id", "embedding", QUERY_IDS,
                       PQ_SEED_IDS, K) \
        .select("qid", F.col("neighbor_id").alias("pq_id"))
    joined = (exact
              .join(pq, (exact.qid == pq.qid)
                    & (exact.neighbor_id == pq.pq_id), "left")
              .drop(pq.qid))
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("pq_id").isNotNull(), 1).otherwise(0))
         .alias("pq_hits"),
        F.round(F.sum(F.when(F.col("pq_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("pq_recall"))


def _pq_recall_sql() -> str:
    return f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({_BRUTE_SQL})),
pq AS (SELECT qid, neighbor_id AS pq_id FROM ({_pq_sql()})),
joined AS (
    SELECT e.qid, e.neighbor_id, p.pq_id
    FROM exact e
    LEFT JOIN pq p ON e.qid = p.qid AND e.neighbor_id = p.pq_id
)
SELECT qid, count(*) AS n_exact,
       CAST(sum(CASE WHEN pq_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS pq_hits,
       round(sum(CASE WHEN pq_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS pq_recall
FROM joined GROUP BY qid
"""


DECON_TAU = 0.95


def _embedding_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC benchmark decontamination — the embedding-space twin of
    the 8-gram `benchmark_decontamination`: a corpus item is
    contaminated when its cosine to ANY benchmark-panel vector reaches
    ``DECON_TAU``. The panel is vec_id % 7 == 0 (the same held-out rule
    as the text query); planted contamination (scaled copies of every
    3rd panel vector, cosine exactly 1.0) proves the gate fires.

    Scale: the panel is broadcast — the corpus scans once, computes all
    panel cosines scan-side, and the only shuffle is the per-vector
    struct-max aggregation (map-side combinable). argmax ties break to
    the LOWEST benchmark id via max(struct(cos, -bench_id)) — the same
    deterministic struct-extremum idiom as the PQ encoder. A panel too
    large to broadcast would reuse the banded-LSH candidate path of
    `embedding_neardup` instead of the dense scan."""
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # norms precompute ONCE per side below the pair join (r11, guide
    # §1.2 per-task work): cosine() would re-run BOTH interpreted norm
    # folds on every (corpus, panel) pair — 3 O(dim) folds per pair on
    # an N×(N/7) dense product instead of 1. round(dot/(nv·nb), 6) is
    # bit-identical to cosine() (same fold expressions, same doubles).
    panel = (emb.where(F.col("vec_id") % 7 == 0)
             .select(F.col("vec_id").alias("bench_id"),
                     S.as_double(F.col("embedding")).alias("bv"))
             .withColumn("bnorm", S.norm(F.col("bv"))))
    off = F.broadcast(emb.agg((F.max("vec_id") + F.lit(1)).alias("_off")))
    planted = (emb.where((F.col("vec_id") % 7 == 0)
                         & (F.col("vec_id") % 3 == 0))
               .crossJoin(off)
               .select((F.col("vec_id") + F.col("_off")).alias("vec_id"),
                       F.transform("embedding", lambda x: x * F.lit(0.5))
                        .alias("embedding")))
    corpus = (emb.where(F.col("vec_id") % 7 != 0).unionByName(planted)
              .select("vec_id", S.as_double(F.col("embedding")).alias("v"))
              .withColumn("nv", S.norm(F.col("v"))))
    best = (corpus.join(F.broadcast(panel))
            .select("vec_id",
                    F.struct(F.round(S.dot(F.col("v"), F.col("bv"))
                                     / (F.col("nv") * F.col("bnorm")), 6)
                              .alias("c"),
                             (-F.col("bench_id")).alias("nb")).alias("s"))
            .groupBy("vec_id")
            .agg(F.max("s").alias("m")))
    return best.select(
        "vec_id",
        F.col("m.c").alias("max_benchmark_cosine"),
        (-F.col("m.nb")).alias("nearest_benchmark_id"),
        (F.col("m.c") >= DECON_TAU).alias("contaminated"))


_DECON_SQL = f"""
WITH panel AS (
    SELECT vec_id AS bench_id, {_sql_vec()} AS bv
    FROM embeddings WHERE vec_id % 7 = 0
),
corpus AS (
    SELECT vec_id, {_sql_vec()} AS v FROM embeddings WHERE vec_id % 7 <> 0
    UNION ALL
    SELECT vec_id + (SELECT max(vec_id) + 1 FROM embeddings) AS vec_id,
           list_transform({_sql_vec()}, x -> x * 0.5) AS v
    FROM embeddings WHERE vec_id % 7 = 0 AND vec_id % 3 = 0
),
best AS (
    SELECT c.vec_id,
           max(struct_pack(
               c := round({_sql_dot('c.v', 'p.bv')}
                          / ({_sql_norm('c.v')} * {_sql_norm('p.bv')}), 6),
               nb := -p.bench_id)) AS m
    FROM corpus c CROSS JOIN panel p
    GROUP BY c.vec_id
)
SELECT vec_id,
       m.c AS max_benchmark_cosine,
       -m.nb AS nearest_benchmark_id,
       m.c >= {DECON_TAU} AS contaminated
FROM best
"""


SEMDEDUP_TAU = 0.9


def _semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the near-dup-augmented corpus: every injected
    scaled copy (cosine exactly 1.0 with its source, and guaranteed to
    land in the same quantizer cell — cell assignment is cosine-based,
    hence scale-invariant) must be dropped in favor of its lower-id
    source; genuinely distinct vectors survive."""
    corpus = _augmented_corpus(spark, sf_dir)
    return S.semantic_dedup(corpus, "vec_id", "embedding",
                            CENTROID_IDS, SEMDEDUP_TAU)


def _semantic_dedup_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup served from the k-means-refined quantizer (the
    same composition as ann_ivf_refined_topk): the quantizer trains on
    the CLEAN corpus, dedup runs over the augmented one. Better cells
    concentrate near-dups, so the cell-local rule loses fewer
    cross-cell pairs — the production knob SemDeDup actually tunes."""
    from .clustering import refined_centroids

    base = load(spark, sf_dir, "embeddings")
    corpus = _augmented_corpus(spark, sf_dir)
    return S.semantic_dedup(corpus, "vec_id", "embedding",
                            centroid_ids=[], threshold=SEMDEDUP_TAU,
                            centroids=refined_centroids(base))


def _semdedup_sql(cents_sql: str, extra_ctes: str = "") -> str:
    return f"""
WITH {extra_ctes}{_CORPUS_CTE},
e AS (SELECT vec_id, {_sql_vec()} AS v FROM corpus),
c AS ({cents_sql}),
scored AS (
    SELECT e.vec_id, e.v, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY round({_sql_dot('e.v', 'c.cv')}
                 / ({_sql_norm('e.v')} * {_sql_norm('c.cv')}), 6) DESC,
                              c.cent_id ASC) AS crank
    FROM e CROSS JOIN c
),
cells AS (SELECT vec_id, v, cent_id AS cell FROM scored WHERE crank = 1),
dup AS (
    SELECT a.vec_id AS id_a, min(b.vec_id) AS dup_of
    FROM cells a JOIN cells b
      ON a.cell = b.cell AND b.vec_id < a.vec_id
    WHERE round({_sql_dot('a.v', 'b.v')}
                / ({_sql_norm('a.v')} * {_sql_norm('b.v')}), 6)
          >= {SEMDEDUP_TAU}
    GROUP BY a.vec_id
)
SELECT cells.vec_id, cells.cell, dup.dup_of,
       dup.dup_of IS NULL AS kept
FROM cells LEFT JOIN dup ON cells.vec_id = dup.id_a
"""


_SEMDEDUP_SQL = _semdedup_sql(
    "SELECT vec_id AS cent_id, v AS cv FROM e\n"
    f"      WHERE vec_id IN ({', '.join(map(str, CENTROID_IDS))})")
_SEMDEDUP_REFINED_SQL = _semdedup_sql(*_refined_cents_ctes())


def _center_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding preprocessing for the ANN stack: subtract the corpus
    mean vector, renormalize to unit length. Centering spreads vectors
    over the hypersphere, which is what makes random-hyperplane buckets
    balanced — run this before building the LSH/IVF index.

    Scale shape: the mean vector is ONE posexplode + groupBy(pos) pass
    (64 output rows regardless of corpus size, partial-aggregated
    map-side), rebuilt into an array and broadcast back via a 1-row
    cross join — the corpus is scanned twice and never shuffled (the
    pos aggregation shuffles 64 rows per partition). Mean components
    round to 4 dp before centering in BOTH engines, so downstream
    arithmetic is deterministic cross-engine.
    """
    from pyspark.sql import functions as F

    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    mean_vec = (e.select(F.posexplode("v").alias("pos", "x"))
                .groupBy("pos").agg(F.round(F.avg("x"), 4).alias("m"))
                .groupBy()
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                      .alias("pm"))
                .select(F.transform("pm", lambda s: s["m"]).alias("mean_v")))
    centered = (e.crossJoin(F.broadcast(mean_vec))
                .select("vec_id",
                        F.zip_with("v", "mean_v", lambda a, b: a - b)
                         .alias("c"))
                # project the norm ONCE: the fold is O(dim), and inlining
                # it in the per-element lambda would recompute it per
                # component (O(dim^2)/row — same trap as the shingle split)
                .withColumn("nm", S.norm(F.col("c"))))
    # `+ 0.0` collapses IEEE -0.0 to +0.0 in both engines: Spark round()
    # (BigDecimal) drops the sign but DuckDB round() keeps it, and
    # "-0.000000" vs "0.000000" is a hard string mismatch in the gate
    unit = (F.when(F.col("nm") == 0, F.transform("c", lambda x: x * 0.0))
            .otherwise(F.transform(
                "c", lambda x: F.round(x / F.col("nm"), 6) + 0.0)))
    return centered.select(
        "vec_id",
        F.round(F.col("nm"), 6).alias("norm_centered"),
        # driver canonicalizer cannot hash raw arrays — emit joined text
        F.array_join(F.transform(unit, lambda x: F.format_number(x, 6)),
                     ",").alias("unit_csv"),
    )


def _center_normalize_sql() -> str:
    dim = S.DIM
    return f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
pos AS (
    SELECT t.i AS pos, avg(v[t.i]) AS m
    FROM e, generate_series(1, {dim}) AS t(i)
    GROUP BY t.i
),
mean_v AS (
    SELECT list_transform(
        list_sort(list(struct_pack(pos := pos, m := round(m, 4)))),
        s -> s.m) AS mv
    FROM pos
),
centered AS (
    SELECT vec_id,
           list_transform(range(1, {dim} + 1), i -> v[i] - mv[i]) AS c
    FROM e CROSS JOIN mean_v
),
n AS (
    SELECT vec_id, c, {_sql_norm('c')} AS nm FROM centered
)
SELECT vec_id,
       round(nm, 6) AS norm_centered,
       array_to_string(
           list_transform(c, x -> format('{{:.6f}}',
               CASE WHEN nm = 0 THEN x * 0.0
                    ELSE round(x / nm, 6) + 0.0 END)),
           ',') AS unit_csv
FROM n
"""


KNN_K = 5


def _knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return S.knn_graph(emb, "vec_id", "embedding", k=KNN_K)


_KNN_GRAPH_SQL = f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
bands AS (
{" UNION ALL ".join(
    f"SELECT vec_id, {band} AS band, "
    f"{_sql_bucket(_sql_vec(), planes)} AS sig FROM embeddings"
    for band, planes in enumerate(S.BAND_PLANES))}
),
half AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
),
cand AS (
    SELECT id_a, id_b FROM half
    UNION ALL
    SELECT id_b AS id_a, id_a AS id_b FROM half
),
scored AS (
    SELECT cand.id_a AS src, cand.id_b AS dst,
           round({_sql_dot('ea.v', 'eb.v')}
                 / ({_sql_norm('ea.v')} * {_sql_norm('eb.v')}), 6) AS cosine
    FROM cand
    JOIN e ea ON ea.vec_id = cand.id_a
    JOIN e eb ON eb.vec_id = cand.id_b
)
SELECT src, dst, cosine, CAST(rank AS INT) AS rank
FROM (SELECT src, dst, cosine,
             row_number() OVER (PARTITION BY src
                                ORDER BY cosine DESC, dst ASC) AS rank
      FROM scored)
WHERE rank <= {KNN_K}
"""

QUERIES = {
    "knn_graph_topk": (_knn_graph, _KNN_GRAPH_SQL),
    "ann_cosine_topk": (_brute, _BRUTE_SQL),
    "ann_lsh_topk": (_lsh, _LSH_SQL),
    "ann_ivf_topk": (_ivf, _IVF_SQL),
    "ann_ivf_refined_topk": (_ivf_refined, _IVF_REFINED_SQL),
    "embedding_neardup": (_neardup, _NEARDUP_SQL),
    "semantic_dedup": (_semantic_dedup, _SEMDEDUP_SQL),
    "pq_adc_topk": (_pq_adc, _pq_sql()),
    "pq_recall_eval": (_pq_recall, _pq_recall_sql()),
    "pq_rerank_topk": (_pq_rerank, _pq_rerank_sql()),
    "embedding_decontamination": (_embedding_decontamination, _DECON_SQL),
    "semantic_dedup_refined": (_semantic_dedup_refined, _SEMDEDUP_REFINED_SQL),
    "ann_recall_eval": (_recall_eval, _RECALL_SQL),
    "embedding_center_normalize": (_center_normalize, _center_normalize_sql()),
}


# --------------------------------------------------------------------------
# mmr_diversified_topk: maximal-marginal-relevance re-ranking
# --------------------------------------------------------------------------
MMR_POOL = 20
MMR_K = 5
# λ = 0.7 as an exact decimal both engines parse identically
MMR_L, MMR_1ML = 0.7, 0.3


def _mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-rank: from the top-``MMR_POOL``
    cosine candidates for one query, greedily pick ``MMR_K`` results
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-picked —
    the standard diversification pass between ANN retrieval and
    serving (dedups near-identical hits without dropping recall).

    Determinism: relevance and pairwise similarities are the rounded-6
    ``cosine``; each greedy argmax compares ROUNDED scores with id
    tie-break (struct-min idiom), so the pick sequence is identical in
    both engines; the oracle unrolls the K greedy rounds as CTEs.

    Scale: MMR is inherently sequential in K, but it only ever runs on
    a top-N candidate pool (here from the exact scorer; from LSH/IVF
    at production). The pool is PERSISTED after the one corpus scan
    (tracked, released via ``tables.release``), and the
    greedy loop is driver-paced: each round collects exactly ONE pick
    row (the BPE-argmax shape) and the next round's plan reads only
    the ≤ MMR_POOL-row cached pool — never the corpus. K−1 tiny jobs,
    one corpus scan total, no lazily-growing union lineage.

    Determinism of the sever: ``rel``/``mmr_score`` are Spark-computed
    rounded-6 doubles collected and re-emitted as literals — a
    bit-exact double round-trip, so the hash matches the all-lazy plan.
    """
    e = (load(spark, sf_dir, "embeddings")
         .select("vec_id", S.as_double(F.col("embedding")).alias("v")))
    # query norm precomputed ONCE on the broadcast side (r11): cosine()
    # re-ran the interpreted norm(qv) fold on every corpus row of the
    # pool scan. norm(v) stays per row (each row scores once — a
    # precompute would move, not remove, that fold). round(dot/(nq·n),6)
    # is bit-identical to cosine() (same fold expressions, same doubles).
    q = (e.where(F.col("vec_id") == QUERY_IDS[0])
         .select(F.col("v").alias("qv"))
         .withColumn("nq", S.norm(F.col("qv"))))
    cand = persist(e.crossJoin(F.broadcast(q))
                   .where(F.col("vec_id") != QUERY_IDS[0])
                   .select("vec_id", "v",
                           F.round(S.dot(F.col("qv"), F.col("v"))
                                   / (F.col("nq") * S.norm(F.col("v"))), 6)
                            .alias("rel"))
                   .orderBy(F.desc("rel"), F.asc("vec_id")).limit(MMR_POOL))
    first = (cand.orderBy(F.desc("rel"), F.asc("vec_id")).limit(1)
             .select("vec_id", "rel").collect()[0])
    picks: list[tuple[int, int, float, float]] = [
        (1, first["vec_id"], first["rel"], first["rel"])]
    for r in range(2, MMR_K + 1):
        picked_ids = [p[1] for p in picks]
        sel_v = (cand.where(F.col("vec_id").isin(picked_ids))
                 .select(F.col("vec_id").alias("sid"),
                         F.col("v").alias("sv")))
        rem = cand.where(~F.col("vec_id").isin(picked_ids))
        scored = (rem.crossJoin(F.broadcast(sel_v))
                  .groupBy("vec_id", "rel")
                  .agg(F.max(S.cosine(F.col("v"), F.col("sv")))
                        .alias("max_sim"))
                  .select("vec_id", "rel",
                          F.round(F.lit(MMR_L) * F.col("rel")
                                  - F.lit(MMR_1ML) * F.col("max_sim"), 6)
                           .alias("mmr_score")))
        pick = (scored.orderBy(F.desc("mmr_score"), F.asc("vec_id"))
                .limit(1).collect()[0])
        picks.append((r, pick["vec_id"], pick["rel"], pick["mmr_score"]))
    return spark.createDataFrame(
        picks, "pick_rank int, vec_id bigint, rel double, mmr_score double")


def _mmr_sql() -> str:
    qid = QUERY_IDS[0]
    cos = (f"round({_sql_dot('c1.v', 'c2.v')}"
           f" / ({_sql_norm('c1.v')} * {_sql_norm('c2.v')}), 6)")
    ctes = [f"e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings)",
            f"q AS (SELECT v AS qv FROM e WHERE vec_id = {qid})",
            f"""cand AS (
    SELECT vec_id, v,
           round({_sql_dot('q.qv', 'e.v')}
                 / ({_sql_norm('q.qv')} * {_sql_norm('e.v')}), 6) AS rel
    FROM e CROSS JOIN q WHERE vec_id <> {qid}
    ORDER BY rel DESC, vec_id ASC LIMIT {MMR_POOL}
)""",
            """p1 AS (
    SELECT vec_id, rel, 1 AS pick_rank, rel AS mmr_score
    FROM cand ORDER BY rel DESC, vec_id ASC LIMIT 1
)""",
            "s1 AS (SELECT vec_id, rel, pick_rank, mmr_score FROM p1)"]
    for r in range(2, MMR_K + 1):
        ctes.append(f"""m{r} AS (
    SELECT c1.vec_id, c1.rel,
           round({MMR_L} * c1.rel - {MMR_1ML} * max({cos}), 6) AS mmr_score
    FROM cand c1
    JOIN cand c2 ON c2.vec_id IN (SELECT vec_id FROM s{r - 1})
    WHERE c1.vec_id NOT IN (SELECT vec_id FROM s{r - 1})
    GROUP BY c1.vec_id, c1.rel
)""")
        ctes.append(f"""p{r} AS (
    SELECT vec_id, rel, {r} AS pick_rank, mmr_score
    FROM m{r} ORDER BY mmr_score DESC, vec_id ASC LIMIT 1
)""")
        ctes.append(f"""s{r} AS (
    SELECT * FROM s{r - 1} UNION ALL SELECT * FROM p{r}
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(pick_rank AS INT) AS pick_rank, vec_id, rel, mmr_score
FROM s{MMR_K}
""")


QUERIES["mmr_diversified_topk"] = (_mmr, _mmr_sql())


# --------------------------------------------------------------------------
# ann_index_incremental: IVF index maintenance when a new batch arrives
# --------------------------------------------------------------------------
# batch = vec_id % 10 == 5: disjoint from the k-means SEED_IDS (all
# % 10 == 0) and the probe panel QUERY_IDS (0..4), so the base corpus
# always contains every seed and every query at every scale factor.
INC_MOD, INC_REM = 10, 5


def _inc_full_cents(spark: SparkSession, sf_dir: str):
    """(emb, vecs_all, cents_inc, cents_full): ONE quantization pass
    over the corpus (persisted, tracked by tables.persist)
    feeds both training chains — the incremental quantizer trains on
    the pre-batch subset of the SAME cached frame (quantization is
    per-row, so filtering the cached quantized corpus is bit-identical
    to quantizing the filtered corpus). Shared by the census and the
    recall query, which previously re-quantized and re-persisted the
    corpus once per chain (r11, guide §5 persist-when-reused).

    The two chains share ONE seed collect (every SEED_ID is
    % INC_MOD == 0, so the base-subset filter passes the identical
    rows — collecting them twice was a whole extra cached-scan job for
    provably equal values) and then train CONCURRENTLY from two driver
    threads (guide §2.6): each Lloyd round is a driver-paced collect
    whose k-row aggregate leaves most cores idle, so the independent
    chains' rounds back-fill each other instead of serializing 2x
    N_ITERS round-trips."""
    from concurrent.futures import ThreadPoolExecutor

    from . import clustering as CL

    emb = load(spark, sf_dir, "embeddings")
    vecs_all, cents0 = CL._seeded_vecs(emb, CL.SEED_IDS)
    vecs_base = vecs_all.where(F.col("vec_id") % INC_MOD != INC_REM)

    def _chain(vecs, cents):
        for _ in range(CL.N_ITERS):
            cents = CL._update(CL._assign(vecs, cents))
        return cents

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_full = pool.submit(_chain, vecs_all, cents0)
        f_inc = pool.submit(_chain, vecs_base, cents0)
        cents_full, cents_inc = f_full.result(), f_inc.result()
    return emb, vecs_all, cents_inc, cents_full


def _ann_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the retrieval twin of
    ``incremental_neardup``: a new document batch (vec_id % 10 == 5)
    arrives after the coarse quantizer was trained, and instead of
    retraining we ASSIGN the batch to the existing (stale) centroids.
    Emits the per-cell census of the incremental index (n_base, n_new,
    n_total) full-outer-joined with the cell sizes a full rebuild
    (k-means retrained on the merged corpus) would produce, plus the
    per-cell drift — the monitoring signal that tells a deployment
    when accumulated batches warrant a rebuild.

    Determinism: assignment is the fixed-point integer k-means space
    (quantized vectors, integer L2, floor-mean updates — bit-exact in
    both engines); the oracle unrolls both training chains as CTEs.

    Scale: ONE quantization pass over the corpus (persisted, tracked
    by tables.persist) feeds base training, full
    training, and both assignment passes; every assignment is a
    broadcast join + WindowGroupLimit argmin. The incremental path is
    what runs per-batch at 100 TB — only the batch reshuffles; the
    rebuild chain here exists to measure drift, and would run rarely.
    """
    from . import clustering as CL

    _, vecs_all, cents_inc, cents_full = _inc_full_cents(spark, sf_dir)
    is_new = F.col("vec_id") % INC_MOD == INC_REM
    a_inc = CL._assign(vecs_all, cents_inc)
    a_full = CL._assign(vecs_all, cents_full)
    ci = a_inc.groupBy("cell").agg(
        F.sum(F.when(is_new, 0).otherwise(1)).alias("n_base"),
        F.sum(F.when(is_new, 1).otherwise(0)).alias("n_new"),
        F.count(F.lit(1)).alias("n_total"))
    cf = a_full.groupBy("cell").agg(F.count(F.lit(1)).alias("n_rebuild"))
    return (ci.join(cf, "cell", "full_outer")
            .select("cell",
                    F.coalesce("n_base", F.lit(0)).alias("n_base"),
                    F.coalesce("n_new", F.lit(0)).alias("n_new"),
                    F.coalesce("n_total", F.lit(0)).alias("n_total"),
                    F.coalesce("n_rebuild", F.lit(0)).alias("n_rebuild"),
                    (F.coalesce("n_total", F.lit(0))
                     - F.coalesce("n_rebuild", F.lit(0)))
                    .alias("cell_drift")))


def _ann_inc_sql() -> str:
    from . import clustering as CL

    seeds = ", ".join(map(str, CL.SEED_IDS))
    parts = [f"bvecs AS (SELECT * FROM vecs "
             f"WHERE vec_id % {INC_MOD} <> {INC_REM})",
             f"bc0 AS (SELECT vec_id AS cent_id, v AS cv FROM bvecs\n"
             f"       WHERE vec_id IN ({seeds}))"]
    for i in range(CL.N_ITERS):
        parts.append(f"ba{i} AS ({CL._assign_sql('bvecs', f'bc{i}')})")
        parts.append(f"bc{i + 1} AS ({CL._update_sql(f'ba{i}')})")
    base_chain = ",\n".join(parts)
    return f"""
WITH {CL.kmeans_cents_cte()},
{base_chain},
a_inc AS ({CL._assign_sql('vecs', f'bc{CL.N_ITERS}')}),
a_full AS ({CL._assign_sql('vecs', f'c{CL.N_ITERS}')}),
ci AS (
  SELECT cell,
         CAST(sum(CASE WHEN vec_id % {INC_MOD} = {INC_REM}
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
         CAST(sum(CASE WHEN vec_id % {INC_MOD} = {INC_REM}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
         CAST(count(*) AS BIGINT) AS n_total
  FROM a_inc GROUP BY cell
),
cf AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_rebuild
       FROM a_full GROUP BY cell)
SELECT COALESCE(ci.cell, cf.cell) AS cell,
       COALESCE(n_base, 0) AS n_base,
       COALESCE(n_new, 0) AS n_new,
       COALESCE(n_total, 0) AS n_total,
       COALESCE(n_rebuild, 0) AS n_rebuild,
       COALESCE(n_total, 0) - COALESCE(n_rebuild, 0) AS cell_drift
FROM ci FULL OUTER JOIN cf ON ci.cell = cf.cell
"""


def _ann_inc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall cost of NOT rebuilding: top-k search over the full
    corpus through (a) the incremental index (quantizer trained before
    the batch arrived) and (b) a full rebuild, each measured against
    the exact baseline per probe query — the second monitoring signal
    (alongside the cell-drift census) for the rebuild decision.

    Scale: same shape as ann_recall_eval — ground truth only for the
    fixed probe panel, so cost is O(panel × corpus) regardless of
    index size; all per-qid joins touch ~k rows. Both quantizers come
    from ONE shared quantization pass (see _inc_full_cents)."""
    from .clustering import dequant_cents

    emb, _, cents_inc, cents_full = _inc_full_cents(spark, sf_dir)
    exact = S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", "neighbor_id")
    inc = S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                     k=K, nprobe=NPROBE,
                     centroids=dequant_cents(spark, cents_inc)) \
        .select("qid", F.col("neighbor_id").alias("inc_id"))
    reb = S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                     k=K, nprobe=NPROBE,
                     centroids=dequant_cents(spark, cents_full)) \
        .select("qid", F.col("neighbor_id").alias("reb_id"))
    joined = (exact
              .join(inc, (exact.qid == inc.qid)
                    & (exact.neighbor_id == inc.inc_id), "left")
              .drop(inc.qid))
    joined = (joined
              .join(reb, (joined.qid == reb.qid)
                    & (joined.neighbor_id == reb.reb_id), "left")
              .drop(reb.qid))
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("inc_id").isNotNull(), 1).otherwise(0))
         .alias("inc_hits"),
        F.sum(F.when(F.col("reb_id").isNotNull(), 1).otherwise(0))
         .alias("rebuild_hits"),
        F.round(F.sum(F.when(F.col("inc_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("inc_recall"),
        F.round(F.sum(F.when(F.col("reb_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("rebuild_recall"))


def _ann_inc_recall_sql() -> str:
    from . import clustering as CL

    inc_cents = (f"SELECT cent_id, list_transform(cv, x -> x / "
                 f"{CL.Q_SCALE}.0) AS cv FROM ic{CL.N_ITERS}")
    inc_chain = CL.kmeans_cents_cte(
        prefix="i", where=f" WHERE vec_id % {INC_MOD} <> {INC_REM}") + ",\n"
    inc_sql = _ivf_sql(inc_cents, inc_chain)
    return f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({_BRUTE_SQL})),
inc AS (SELECT qid, neighbor_id AS inc_id FROM ({inc_sql})),
reb AS (SELECT qid, neighbor_id AS reb_id FROM ({_IVF_REFINED_SQL})),
joined AS (
    SELECT e.qid, e.neighbor_id, i.inc_id, r.reb_id
    FROM exact e
    LEFT JOIN inc i ON e.qid = i.qid AND e.neighbor_id = i.inc_id
    LEFT JOIN reb r ON e.qid = r.qid AND e.neighbor_id = r.reb_id
)
SELECT qid,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN inc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS inc_hits,
       CAST(sum(CASE WHEN reb_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS rebuild_hits,
       round(sum(CASE WHEN inc_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS inc_recall,
       round(sum(CASE WHEN reb_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS rebuild_recall
FROM joined
GROUP BY qid
"""


QUERIES["ann_index_incremental"] = (_ann_index_incremental, _ann_inc_sql())
QUERIES["ann_index_incremental_recall"] = (_ann_inc_recall,
                                           _ann_inc_recall_sql())


# --------------------------------------------------------------------------
# Scalar quantization: int8-per-dim codes + symmetric-distance top-k
# --------------------------------------------------------------------------


def _sq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized ANN (see :func:`similarity.sq_topk`): the third
    compression family next to IVF (coarse cells) and PQ (subspace
    codes) — per-dim min/max affine grid, uint8 codes, exact integer
    L2 over codes. Compression trades less recall than PQ (4× vs 64×)
    for near-exact ranking, which is why real deployments stack
    IVF + SQ before reaching for PQ."""
    emb = load(spark, sf_dir, "embeddings")
    return S.sq_topk(emb, "vec_id", "embedding", QUERY_IDS, K)


_SQ_CODES_CTE = f"""e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
comp AS (
    SELECT unnest(list_transform(range(1, {S.DIM} + 1),
                  i -> struct_pack(d := i, x := v[i]))) AS s
    FROM e
),
dims AS (SELECT s.d AS d, min(s.x) AS mn, max(s.x) AS mx
         FROM comp GROUP BY 1),
grid AS (SELECT list(mn ORDER BY d) AS mn, list(mx ORDER BY d) AS mx
         FROM dims),
codes AS (
    SELECT vec_id,
           list_transform(range(1, {S.DIM} + 1), i ->
               CASE WHEN g.mx[i] = g.mn[i] THEN CAST(0 AS BIGINT)
                    ELSE least(CAST({S.SQ_LEVELS} AS BIGINT),
                               greatest(CAST(0 AS BIGINT),
                        CAST(floor((v[i] - g.mn[i]) * {S.SQ_LEVELS}
                                   / (g.mx[i] - g.mn[i])) AS BIGINT)))
               END) AS c
    FROM e, grid g
)"""

_SQ_SQL = f"""
WITH {_SQ_CODES_CTE},
q AS (SELECT vec_id AS qid, c AS qc FROM codes
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
pairs AS (
    SELECT q.qid, codes.vec_id,
           CAST(list_sum(list_transform(range(1, {S.DIM} + 1),
                i -> (q.qc[i] - codes.c[i]) * (q.qc[i] - codes.c[i])))
                AS BIGINT) AS dist
    FROM codes JOIN q ON codes.vec_id <> q.qid
),
ranked AS (
    SELECT qid, vec_id AS neighbor_id, dist,
           row_number() OVER (PARTITION BY qid
                              ORDER BY dist ASC, vec_id ASC) AS rank
    FROM pairs
)
SELECT qid, neighbor_id, dist, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K}
"""


def _sq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@K of the scalar-quantized index vs the exact scan — the
    deployment gate for the 4× memory cut (same eval shape as
    ann_recall_eval / pq_recall_eval: ground truth only for the fixed
    probe panel, O(panel × corpus))."""
    emb = load(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", "neighbor_id")
    sq = S.sq_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", F.col("neighbor_id").alias("sq_id"))
    joined = (exact
              .join(sq, (exact.qid == sq.qid)
                    & (exact.neighbor_id == sq.sq_id), "left")
              .drop(sq.qid))
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("sq_id").isNotNull(), 1).otherwise(0))
         .alias("sq_hits"),
        F.round(F.sum(F.when(F.col("sq_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("sq_recall"))


_SQ_RECALL_SQL = f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({_BRUTE_SQL})),
sq AS (SELECT qid, neighbor_id AS sq_id FROM ({_SQ_SQL})),
joined AS (
    SELECT e.qid, e.neighbor_id, s.sq_id
    FROM exact e
    LEFT JOIN sq s ON e.qid = s.qid AND e.neighbor_id = s.sq_id
)
SELECT qid,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN sq_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS sq_hits,
       round(sum(CASE WHEN sq_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS sq_recall
FROM joined
GROUP BY qid
"""


QUERIES["ann_sq_topk"] = (_sq_topk, _SQ_SQL)
QUERIES["sq_recall_eval"] = (_sq_recall, _SQ_RECALL_SQL)


# --------------------------------------------------------------------------
# Johnson–Lindenstrauss random-projection distortion eval (64 → 16 dims)
# --------------------------------------------------------------------------
JL_K = 16
JL_PLANES = [p for band in S.BAND_PLANES for p in band][:JL_K]
_JL_SAMPLE_MOD, _JL_SAMPLE_REM = 20, 3


def _jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion audit for a Johnson–Lindenstrauss random projection
    (the SAME fixed literal hyperplanes the LSH index hashes with,
    reused as a 64→16 linear map): for every (probe, sampled-doc)
    pair, the squared distance in projected space — unbiased-scaled by
    3/K, since E[(d·h)²] = ‖d‖²/3 for uniform(−1,1) plane components
    — next to the true squared distance, plus their ratio. This is
    the measurement that justifies (or vetoes) running ANN / dedup
    candidate generation in the cheaper projected space: JL says the
    ratio concentrates near 1, and this query puts a number on it per
    pair, on the live corpus, before anyone commits to the 4× FLOP cut.

    Determinism: projections and distances are fixed left-fold
    expression trees over literal planes (the ``lsh_bucket`` recipe) —
    identical doubles in both engines; pairs with true distance 0 are
    excluded in both (ratio undefined).

    Scale: probe panel broadcast × a fixed-modulus corpus sample —
    O(panel × sample) pairs, no shuffle beyond the final projection;
    the 16 plane folds ride the scan. An adopted projection would then
    be ONE mapped pass over the corpus (64·16 mults/row), and this
    audit reruns on any fresh sample for free.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", S.as_double(F.col("embedding")).alias("v"))
    q = (e.where(F.col("vec_id").isin(QUERY_IDS))
         .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")))
    s = (e.where(F.col("vec_id") % _JL_SAMPLE_MOD == _JL_SAMPLE_REM)
         .select(F.col("vec_id").alias("sid"), F.col("v").alias("sv")))
    pairs = s.join(F.broadcast(q), F.col("sid") != F.col("qid"))
    diff = F.zip_with(F.col("qv"), F.col("sv"), lambda x, y: x - y)
    pairs = pairs.select("qid", "sid", diff.alias("d"))
    orig2 = F.aggregate(F.transform(F.col("d"), lambda x: x * x),
                        F.lit(0.0), lambda acc, x: acc + x)
    proj2 = F.lit(0.0)
    for plane in JL_PLANES:
        h = F.array(*[F.lit(v) for v in plane])
        t = S.dot(F.col("d"), h)
        proj2 = proj2 + t * t
    out = pairs.select("qid", "sid", orig2.alias("orig_d2"),
                       proj2.alias("proj2"))
    return (out.where(F.col("orig_d2") != 0)
            .select("qid", "sid",
                    F.round("orig_d2", 6).alias("orig_d2"),
                    F.round(F.col("proj2") * 3 / JL_K, 6).alias("est_d2"),
                    F.round((F.col("proj2") * 3)
                            / (F.lit(JL_K) * F.col("orig_d2")), 4)
                     .alias("ratio")))


def _jl_sql() -> str:
    proj_terms = []
    for j in range(JL_K):
        dj = _sql_dot("d", _sql_plane(j, JL_PLANES))
        proj_terms.append(f"({dj}) * ({dj})")
    proj2 = " + ".join(proj_terms)
    orig2 = ("list_reduce(list_prepend(0.0, "
             "list_transform(d, x -> x * x)), (acc, x) -> acc + x)")
    return f"""
WITH e AS (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
s AS (SELECT vec_id AS sid, v AS sv FROM e
      WHERE vec_id % {_JL_SAMPLE_MOD} = {_JL_SAMPLE_REM}),
pairs AS (
    SELECT q.qid, s.sid,
           list_transform(range(1, {S.DIM} + 1),
                          i -> q.qv[i] - s.sv[i]) AS d
    FROM s CROSS JOIN q
    WHERE s.sid <> q.qid
),
scored AS (
    SELECT qid, sid, {orig2} AS orig_d2, {proj2} AS proj2
    FROM pairs
)
SELECT qid, sid,
       round(orig_d2, 6) AS orig_d2,
       round(proj2 * 3 / {JL_K}, 6) AS est_d2,
       round((proj2 * 3) / ({JL_K} * orig_d2), 4) AS ratio
FROM scored
WHERE orig_d2 <> 0
"""


QUERIES["jl_projection_distortion"] = (_jl_distortion, _jl_sql())


# --------------------------------------------------------------------------
# Rank-biased overlap: ORDER-sensitive IVF-vs-exact agreement
# --------------------------------------------------------------------------
def _rbo_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between the exact top-10
    and the refined-IVF top-10, per probe — the ORDER-sensitive
    companion to ``ann_recall_eval``: recall says how many true
    neighbors the index returns, RBO says whether it returns them in
    the right ORDER (a re-ranking consumer cares; two indexes with
    identical recall can have very different RBO). Persistence p = 1/2
    makes every weight a dyadic rational. Output: (qid, n_common,
    rbo_e9) with rbo defined in floor-per-depth integer semantics
    rbo_e9 = Σ_{d=1..10} floor(1e9·X_d / (2^d·d)), X_d = overlap of
    the two depth-d prefixes.

    Determinism: both rankings tie-break on neighbor id; X_d is an
    exact count (a matched id contributes to every d ≥ max of its two
    ranks — one integer sequence explode, ≤ 10 rows per match); the
    weight 2^d·d is exact int64.

    Scale: both top-k frames are the existing panel-broadcast search
    plans; everything after is per-qid algebra on ≤ 10-row groups.
    """
    from pyspark.sql import functions as F

    from .clustering import refined_centroids

    emb = load(spark, sf_dir, "embeddings")
    exact = (S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K)
             .select("qid", "neighbor_id", F.col("rank").alias("ra")))
    ivfr = (S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                       k=K, nprobe=NPROBE,
                       centroids=refined_centroids(emb))
            .select("qid", "neighbor_id", F.col("rank").alias("rb")))
    m = (exact.join(ivfr, ["qid", "neighbor_id"])
         .select("qid", F.greatest("ra", "rb").alias("m")))
    xd = (m.select("qid", F.explode(F.sequence(F.col("m").cast("int"),
                                               F.lit(K))).alias("d"))
          .groupBy("qid", "d").agg(F.count(F.lit(1)).alias("x")))
    rbo = (xd.withColumn(
        "term", F.expr("(1000000000 * x) div"
                       " (shiftleft(cast(1 as bigint), d) * d)"))
        .groupBy("qid").agg(F.sum("term").alias("rbo_e9")))
    nc = m.groupBy("qid").agg(F.count(F.lit(1)).alias("n_common"))
    qs = exact.select("qid").distinct()
    return (qs.join(nc, "qid", "left").join(rbo, "qid", "left")
            .select("qid",
                    F.coalesce("n_common", F.lit(0)).alias("n_common"),
                    F.coalesce("rbo_e9", F.lit(0)).alias("rbo_e9")))


_RBO_SQL = f"""
WITH exact AS (SELECT qid, neighbor_id, rank AS ra FROM ({_BRUTE_SQL})),
ivfr AS (SELECT qid, neighbor_id, rank AS rb FROM ({_IVF_REFINED_SQL})),
m AS (
    SELECT e.qid, greatest(e.ra, i.rb) AS m
    FROM exact e
    JOIN ivfr i ON e.qid = i.qid AND e.neighbor_id = i.neighbor_id
),
xd AS (
    SELECT qid, d, count(*) AS x
    FROM (SELECT qid, unnest(generate_series(m, {K})) AS d FROM m)
    GROUP BY 1, 2
),
rbo AS (
    SELECT qid,
           CAST(sum((1000000000 * x) // ((CAST(1 AS BIGINT) << d) * d))
                AS BIGINT) AS rbo_e9
    FROM xd GROUP BY qid
),
nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_common FROM m
       GROUP BY qid),
qs AS (SELECT DISTINCT qid FROM exact)
SELECT qs.qid, coalesce(nc.n_common, 0) AS n_common,
       coalesce(rbo.rbo_e9, 0) AS rbo_e9
FROM qs LEFT JOIN nc USING (qid) LEFT JOIN rbo USING (qid)
"""


QUERIES["rbo_rank_agreement"] = (_rbo_rank_agreement, _RBO_SQL)


def _kendall_tau_rankings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau between the exact top-10 and the refined-IVF
    top-10 per probe — the third rank-agreement lens beside recall
    (set overlap) and RBO (top-weighted): tau counts concordant vs
    discordant PAIRS, so one badly transposed high rank costs little
    while systematic reordering costs a lot. Both rankings are
    tie-free (id tie-break), so tau = (C - D)/(C + D) over the common
    items, exact integers until one floored double division (tau is
    signed: floor, never int-cast). Output: (qid, n_common,
    concordant, discordant, tau_e6).

    Scale: the two top-k frames are the existing panel-broadcast
    search plans; the pair join runs per-qid on <=10-row groups
    (<=45 pairs each).
    """
    from pyspark.sql import functions as F

    from .clustering import refined_centroids

    emb = load(spark, sf_dir, "embeddings")
    exact = (S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K)
             .select("qid", "neighbor_id", F.col("rank").alias("ra")))
    ivfr = (S.ivf_topk(emb, "vec_id", "embedding", QUERY_IDS,
                       k=K, nprobe=NPROBE,
                       centroids=refined_centroids(emb))
            .select("qid", "neighbor_id", F.col("rank").alias("rb")))
    m = exact.join(ivfr, ["qid", "neighbor_id"])
    a = m.select("qid", F.col("neighbor_id").alias("ia"),
                 F.col("ra").alias("ra1"), F.col("rb").alias("rb1"))
    b = m.select("qid", F.col("neighbor_id").alias("ib"),
                 F.col("ra").alias("ra2"), F.col("rb").alias("rb2"))
    pairs = (a.join(b, "qid").where(F.col("ia") < F.col("ib"))
             .select("qid",
                     (((F.col("ra1") - F.col("ra2"))
                       * (F.col("rb1") - F.col("rb2"))) > 0)
                     .cast("long").alias("conc")))
    agg = (pairs.groupBy("qid")
           .agg(F.sum("conc").alias("concordant"),
                F.sum(1 - F.col("conc")).alias("discordant")))
    nc = m.groupBy("qid").agg(F.count(F.lit(1)).alias("n_common"))
    qs = exact.select("qid").distinct()
    tau = ("case when coalesce(concordant, 0)"
           " + coalesce(discordant, 0) = 0 then cast(0 as bigint)"
           " else cast(floor(1000000.0"
           " * cast(concordant - discordant as double)"
           " / cast(concordant + discordant as double)) as bigint) end")
    return (qs.join(nc, "qid", "left").join(agg, "qid", "left")
            .select("qid",
                    F.coalesce("n_common", F.lit(0)).alias("n_common"),
                    F.coalesce("concordant", F.lit(0)).alias("concordant"),
                    F.coalesce("discordant", F.lit(0)).alias("discordant"),
                    F.expr(tau).alias("tau_e6")))


_KENDALL_SQL = f"""
WITH exact AS (SELECT qid, neighbor_id, rank AS ra FROM ({_BRUTE_SQL})),
ivfr AS (SELECT qid, neighbor_id, rank AS rb FROM ({_IVF_REFINED_SQL})),
m AS (
    SELECT e.qid, e.neighbor_id, e.ra, i.rb
    FROM exact e
    JOIN ivfr i ON e.qid = i.qid AND e.neighbor_id = i.neighbor_id
),
pairs AS (
    SELECT a.qid,
           CASE WHEN (a.ra - b.ra) * (a.rb - b.rb) > 0
                THEN 1 ELSE 0 END AS conc
    FROM m a JOIN m b ON a.qid = b.qid
                     AND a.neighbor_id < b.neighbor_id
),
agg AS (
    SELECT qid, CAST(sum(conc) AS BIGINT) AS concordant,
           CAST(sum(1 - conc) AS BIGINT) AS discordant
    FROM pairs GROUP BY qid
),
nc AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_common FROM m
       GROUP BY qid),
qs AS (SELECT DISTINCT qid FROM exact)
SELECT qs.qid, coalesce(nc.n_common, 0) AS n_common,
       coalesce(agg.concordant, 0) AS concordant,
       coalesce(agg.discordant, 0) AS discordant,
       CASE WHEN coalesce(agg.concordant, 0)
                 + coalesce(agg.discordant, 0) = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(floor(1000000.0
                 * CAST(agg.concordant - agg.discordant AS DOUBLE)
                 / CAST(agg.concordant + agg.discordant AS DOUBLE))
                 AS BIGINT) END AS tau_e6
FROM qs LEFT JOIN nc USING (qid) LEFT JOIN agg USING (qid)
"""


QUERIES["kendall_tau_rankings"] = (_kendall_tau_rankings, _KENDALL_SQL)


# --------------------------------------------------------------------------
# graph_ann_beam_search: HNSW-style best-first search over the kNN graph
# --------------------------------------------------------------------------

_BEAM_B = 16        # beam width (> K so the final cut has slack)
_BEAM_ROUNDS = 3    # expansion hops from the entry points
_BEAM_ENTRIES = 4   # deterministic entry points (smallest vec_ids)


def _graph_ann_beam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-based ANN serving (the HNSW/NSG idea, single-layer): answer
    each query by BEAM SEARCH over the prebuilt k-NN graph — start from
    fixed entry points, repeatedly score the current beam's out-
    neighbors against the query, keep the best B — instead of scanning
    the corpus (ann_cosine_topk) or probing hash buckets (ann_lsh_topk).
    This is the third ANN serving family the engine supports, and the
    one real vector stores run at billion scale: per query it touches
    O(rounds · B · k) vectors regardless of corpus size.

    Determinism: beams rank on round-6 cosines with vec_id tie-break
    (the module's ranking convention), so beam membership — not just
    final order — is bit-identical across engines; entry points are the
    _BEAM_ENTRIES smallest vec_ids (derived, not hard-coded).

    Scale: the graph build amortizes across queries (and is persisted
    here, tracked by tables.persist). Each round broadcasts the
    tiny (queries × B) beam against the adjacency list and joins the
    candidate ids back to vectors — the only big-frame operations are
    those two keyed joins; no corpus scan per query, no cross join
    anywhere. Rounds are driver-paced like bfs_levels, each round's
    beam persisted and released via tables.release().
    """
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    e = persist(
        emb.select("vec_id", S.as_double(F.col("embedding")).alias("v")))
    # query norms precomputed ONCE on the tiny broadcast panel (r11):
    # _score re-ran the interpreted norm(qv) fold per candidate row per
    # round. norm(v) deliberately stays per candidate — hanging a norm
    # column on the persisted CORPUS frame would pay O(N) folds against
    # a search that only ever touches O(rounds·B·k) vectors (the whole
    # point of the graph index). round(dot/(nq·n), 6) ≡ cosine().
    q = (e.where(F.col("vec_id").isin(QUERY_IDS))
         .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
         .withColumn("nq", S.norm(F.col("qv"))))
    und = persist(S.knn_graph(emb, "vec_id", "embedding", k=KNN_K)
                  .select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
                  .distinct())
    adj = und.unionAll(und.select(F.col("b").alias("a"),
                                  F.col("a").alias("b")))

    def _score(cand: DataFrame) -> DataFrame:
        # cand: (qid, node) — attach vectors, round-6 cosine, top-B
        w = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                              F.asc("node"))
        return (cand.join(e.withColumnRenamed("vec_id", "node"), "node")
                .join(F.broadcast(q), "qid")
                .where(F.col("node") != F.col("qid"))
                .withColumn("cosine",
                            F.round(S.dot(F.col("qv"), F.col("v"))
                                    / (F.col("nq") * S.norm(F.col("v"))),
                                    6))
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= _BEAM_B)
                .select("qid", "node", "cosine"))

    entries = e.orderBy("vec_id").limit(_BEAM_ENTRIES).select(
        F.col("vec_id").alias("node"))
    beam = _score(q.select("qid").crossJoin(entries))
    for _ in range(_BEAM_ROUNDS):
        beam = persist(beam)
        nbrs = (beam.join(adj, beam.node == adj.a)
                .select("qid", F.col("b").alias("node")))
        cand = beam.select("qid", "node").unionAll(nbrs).distinct()
        beam = _score(cand)
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("node"))
    return (beam.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= K)
            .select("qid", F.col("node").alias("neighbor_id"), "cosine",
                    F.col("rank").cast("int").alias("rank")))


def _beam_sql() -> str:
    ids = ", ".join(map(str, QUERY_IDS))
    cos = f"round({_sql_dot('qv', 'v')} / ({_sql_norm('qv')} * {_sql_norm('v')}), 6)"
    parts = [f"""
WITH ev AS MATERIALIZED (SELECT vec_id, {_sql_vec()} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM ev WHERE vec_id IN ({ids})),
und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
adj AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
entries AS (SELECT vec_id AS node FROM ev ORDER BY vec_id
            LIMIT {_BEAM_ENTRIES}),
s0 AS (
    SELECT q.qid, c.node, {cos} AS cosine,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY {cos} DESC, c.node ASC) AS rn
    FROM q CROSS JOIN entries c
    JOIN ev ON ev.vec_id = c.node
    WHERE c.node <> q.qid
),
b0 AS (SELECT qid, node, cosine FROM s0 WHERE rn <= {_BEAM_B})"""]
    for r in range(1, _BEAM_ROUNDS + 1):
        parts.append(f""",
c{r} AS MATERIALIZED (
    SELECT qid, node FROM b{r - 1}
    UNION
    SELECT p.qid, adj.b AS node FROM b{r - 1} p JOIN adj ON p.node = adj.a
),
s{r} AS (
    SELECT c.qid, c.node, {cos} AS cosine,
           row_number() OVER (PARTITION BY c.qid
                              ORDER BY {cos} DESC, c.node ASC) AS rn
    FROM c{r} c
    JOIN ev ON ev.vec_id = c.node
    JOIN q ON q.qid = c.qid
    WHERE c.node <> c.qid
),
b{r} AS MATERIALIZED (SELECT qid, node, cosine FROM s{r}
           WHERE rn <= {_BEAM_B})""")
    parts.append(f"""
SELECT qid, node AS neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM (SELECT qid, node, cosine,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, node ASC) AS rank
      FROM b{_BEAM_ROUNDS})
WHERE rank <= {K}
""")
    return "".join(parts)


QUERIES["graph_ann_beam_search"] = (_graph_ann_beam, _beam_sql())


# --------------------------------------------------------------------------
# knn_classifier_eval: label-prediction accuracy of the approximate graph
# --------------------------------------------------------------------------

def _knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-vote accuracy of the APPROXIMATE kNN graph, corpus-wide:
    each vector's label is predicted by the majority vote of its
    banded-LSH graph neighbors and scored against the true ``label``
    — the graph-quality twin of learning.knn_classifier_eval (which
    brute-forces a 4% panel): same task, but full coverage through
    the production index, so the delta between the two is the cost
    of approximation on the end task.
    One row per true label: coverage (vectors with ≥1 neighbor),
    vote accuracy, and the majority-class share as the baseline to
    beat.

    Determinism: votes are exact counts; ties break to the SMALLEST
    label via struct-min; accuracy is an e6 rational.

    Scale: rides the persisted kNN-graph plan (banded candidates,
    no all-pairs); the vote is one (src, label) count over k·N edge
    rows and a struct-min per src.
    """
    from . import similarity as S2

    emb = load(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    edges = S2.knn_graph(emb, "vec_id", "embedding", k=KNN_K)
    votes = (edges.join(labels.withColumnRenamed("vec_id", "dst")
                        .withColumnRenamed("label", "nlabel"), "dst")
             .groupBy("src", "nlabel")
             .agg(F.count(F.lit(1)).alias("c")))
    pred = (votes.groupBy("src")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                F.col("nlabel").alias("l")))
                 .getField("l").alias("pred")))
    scored = (labels.withColumnRenamed("vec_id", "src")
              .join(pred, "src", "left"))
    per_label = (scored.groupBy("label")
                 .agg(F.count(F.lit(1)).alias("n_vectors"),
                      F.sum(F.col("pred").isNotNull().cast("long"))
                      .alias("n_classified"),
                      # when/otherwise(0): if every pred in a label
                      # class is NULL, sum of a bare cast is NULL
                      # while the oracle's CASE ELSE 0 gives 0
                      # (ADVICE r06).
                      F.sum(F.when(F.col("pred") == F.col("label"), 1)
                            .otherwise(0).cast("long"))
                      .alias("n_correct")))
    majority = (labels.groupBy("label")
                .agg(F.count(F.lit(1)).alias("cl"))
                .agg(F.max("cl").alias("maxc"), F.sum("cl").alias("tot")))
    return (per_label.crossJoin(F.broadcast(majority))
            .select("label", "n_vectors", "n_classified", "n_correct",
                    F.expr("CASE WHEN n_classified = 0 THEN 0"
                           " ELSE 1000000 * n_correct div n_classified"
                           " END").alias("acc_e6"),
                    F.expr("1000000 * maxc div tot")
                    .alias("majority_baseline_e6")))


_KNN_CLS_SQL = f"""
WITH edges AS ({_KNN_GRAPH_SQL}),
labels AS (SELECT vec_id, label FROM embeddings),
votes AS (
  SELECT e.src, l.label AS nlabel, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN labels l ON e.dst = l.vec_id
  GROUP BY 1, 2
),
pred AS (
  SELECT src, (min(struct_pack(nc := -c, l := nlabel))).l AS pred
  FROM votes GROUP BY src
),
scored AS (
  SELECT l.label, p.pred
  FROM labels l LEFT JOIN pred p ON l.vec_id = p.src
),
per_label AS (
  SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
         CAST(sum(CASE WHEN pred IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_classified,
         CAST(sum(CASE WHEN pred = label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
  FROM scored GROUP BY label
),
majority AS (
  SELECT CAST(max(cl) AS BIGINT) AS maxc, CAST(sum(cl) AS BIGINT) AS tot
  FROM (SELECT label, count(*) AS cl FROM labels GROUP BY label)
)
SELECT label, n_vectors, n_classified, n_correct,
       CASE WHEN n_classified = 0 THEN 0
            ELSE 1000000 * n_correct // n_classified END AS acc_e6,
       1000000 * maxc // tot AS majority_baseline_e6
FROM per_label, majority
"""

QUERIES["ann_graph_label_vote"] = (_knn_classifier_eval,
                                   _KNN_CLS_SQL)


# --------------------------------------------------------------------------
# Matryoshka (MRL) truncation: prefix-dim ANN + recall gate (round 10)
# --------------------------------------------------------------------------
MRL_DIM = 16


def _mrl_sql_dot(a: str, b: str, dim: int) -> str:
    """Dim-parametric left-fold dot (``_sql_dot`` is pinned to S.DIM)."""
    return (f"list_reduce(list_prepend(0.0, "
            f"list_transform(range(1, {dim} + 1), i -> {a}[i] * {b}[i])), "
            f"(acc, x) -> acc + x)")


def _mrl_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-{K} in the TRUNCATED Matryoshka space: cosine over the
    first {MRL_DIM} of {S.DIM} dims — the MRL deployment question
    ("Matryoshka Representation Learning", Kusupati et al.): a
    prefix-truncated index costs {MRL_DIM}/{S.DIM} of the FLOPs and
    bytes, IF recall holds (gated by ``matryoshka_recall_eval``).

    Determinism: the truncated cosine is the same left-fold expression
    tree as the full-dim brute scan, over a prefix slice; rank ties
    break by vec_id (CLAUDE.md rank rule).

    Scale: identical profile to ``ann_cosine_topk`` — broadcast probe
    panel × one corpus scan, one qid-keyed window; the fold is 4×
    shorter per pair.
    """
    emb = (load(spark, sf_dir, "embeddings")
           .select("vec_id", F.slice("embedding", 1, MRL_DIM)
                   .alias("embedding")))
    return S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K)


_MRL_VEC = f"list_transform(embedding[1:{MRL_DIM}], x -> CAST(x AS DOUBLE))"

_MRL_SQL = f"""
WITH e AS (SELECT vec_id, {_MRL_VEC} AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(map(str, QUERY_IDS))})),
pairs AS (
    SELECT q.qid, e.vec_id,
           round({_mrl_sql_dot('q.qv', 'e.v', MRL_DIM)}
                 / (sqrt({_mrl_sql_dot('q.qv', 'q.qv', MRL_DIM)})
                    * sqrt({_mrl_sql_dot('e.v', 'e.v', MRL_DIM)})), 6)
               AS cosine
    FROM e JOIN q ON e.vec_id <> q.qid
),
ranked AS (
    SELECT qid, vec_id AS neighbor_id, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, vec_id ASC) AS rank
    FROM pairs
)
SELECT qid, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {K}
"""


def _mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} of the {MRL_DIM}-dim truncated index vs the exact
    {S.DIM}-dim scan — the gate that prices the Matryoshka 4× cut,
    same eval shape as sq/pq/ann recall gates (ground truth only for
    the fixed probe panel, O(panel × corpus)).

    Granularity note: ``matryoshka_recall_curve``
    (operators/embedding_queries.py) sweeps the DIM axis and reports
    one panel-aggregate recall per candidate dim — the sizing curve;
    this query fixes the serving dim at {MRL_DIM} and reports
    PER-QUERY recall (the deployment gate that catches a dim choice
    whose aggregate looks fine while specific queries collapse), with
    ``matryoshka_topk`` exposing the ranked lists themselves."""
    emb = load(spark, sf_dir, "embeddings")
    exact = S.brute_force_topk(emb, "vec_id", "embedding", QUERY_IDS, K) \
        .select("qid", "neighbor_id")
    mrl = _mrl_topk(spark, sf_dir) \
        .select("qid", F.col("neighbor_id").alias("mrl_id"))
    joined = (exact
              .join(mrl, (exact.qid == mrl.qid)
                    & (exact.neighbor_id == mrl.mrl_id), "left")
              .drop(mrl.qid))
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.when(F.col("mrl_id").isNotNull(), 1).otherwise(0))
         .alias("mrl_hits"),
        F.round(F.sum(F.when(F.col("mrl_id").isNotNull(), 1).otherwise(0))
                / F.count(F.lit(1)), 4).alias("mrl_recall"))


_MRL_RECALL_SQL = f"""
WITH exact AS (SELECT qid, neighbor_id FROM ({_BRUTE_SQL})),
mrl AS (SELECT qid, neighbor_id AS mrl_id FROM ({_MRL_SQL})),
joined AS (
    SELECT e.qid, e.neighbor_id, m.mrl_id
    FROM exact e
    LEFT JOIN mrl m ON e.qid = m.qid AND e.neighbor_id = m.mrl_id
)
SELECT qid,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN mrl_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS mrl_hits,
       round(sum(CASE WHEN mrl_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 4) AS mrl_recall
FROM joined
GROUP BY qid
"""

QUERIES["matryoshka_topk"] = (_mrl_topk, _MRL_SQL)
QUERIES["matryoshka_recall_eval"] = (_mrl_recall, _MRL_RECALL_SQL)
