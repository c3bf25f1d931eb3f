"""Iterative graph clustering for the dedup pipeline: connected
components over near-duplicate candidate pairs → duplicate clusters
with a canonical representative per cluster.

This is the step after pair generation (MinHash/LSH, SimHash,
Levenshtein blocking) in a training-data dedup pipeline: pairs are only
edges; keeping ONE doc per duplicate *cluster* requires the transitive
closure. The reference's closest relative is the bib_part edge table
(`ddl/data_sync_db.sql:82-85`) queried from either side — here we take
the graph semantics to completion.

Algorithm: min-label propagation with pointer jumping (label-of-label),
converging in O(log n) rounds instead of O(diameter). Each round is two
shuffles on a frame that only shrinks; the loop runs on the driver but
all data stays distributed — at 100 TB this is the same shape as
GraphFrames' connected components (alternating large-star/small-star).

The DuckDB oracle computes the same components with a recursive CTE —
one of the few genuinely iterative computations ANSI SQL can express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, on_release, persist

_MAX_ROUNDS = 25  # 2^25 ≫ any component diameter after pointer jumping


def _candidate_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking edges: same (lang, source), length within ±20 chars.

    The length band is an equi key: ``floor(n_chars/20)`` buckets, with
    the probe side exploded to its own and both adjacent buckets so any
    ±20-char pair shares a (lang, source, bucket) key. This keeps
    candidate pairs near-linear in corpus size — (lang, source) alone
    gives blocks that grow linearly and pair counts that grow
    quadratically at 100×. The exact band stays as residual;
    doc_a < doc_b dedups the pair (each unordered pair meets in exactly
    one bucket, b's own, so the 3-probe explode introduces no dupes)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.floor(F.col("n_chars") / 20).alias("bucket"))
    probe = docs.withColumn(
        "bucket", F.explode(F.array(F.col("bucket") - 1, F.col("bucket"),
                                    F.col("bucket") + 1)))
    a, b = probe.alias("a"), docs.alias("b")
    return (a.join(b, ((F.col("a.lang") == F.col("b.lang"))
                       & (F.col("a.source") == F.col("b.source"))
                       & (F.col("a.bucket") == F.col("b.bucket"))
                       & (F.col("a.doc_id") < F.col("b.doc_id"))
                       & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 20)))
            .select(F.col("a.doc_id").alias("src"),
                    F.col("b.doc_id").alias("dst")))


def connected_components(edges: DataFrame) -> DataFrame:
    """Min-label propagation with path compression over undirected
    edges(src, dst). Returns (node, cluster_id) where cluster_id is the
    smallest node id in the component. Deterministic: min() is
    order-independent.

    Each round's label frame is staged to parquet and read back: the
    loop's self-referential plan must be severed every iteration or
    Catalyst re-analysis grows geometrically (measured ~2×/round by
    round 16 — .checkpoint()/.localCheckpoint() do NOT truncate the
    logical plan here). Parquet staging is also the only cut that works
    unchanged on a real cluster (shared FS / object store), which is how
    GraphFrames paces its own iterative jobs."""
    import shutil
    import uuid
    from urllib.parse import urlparse

    spark = edges.sparkSession
    # stage under the warehouse dir: shared storage on a real cluster
    # (executors write the rounds, so a driver-local tempdir would not
    # be readable back); locally it's the ordinary spark-warehouse dir
    base = spark.conf.get("spark.sql.warehouse.dir")
    workdir = f"{base.rstrip('/')}/_cc_rounds/{uuid.uuid4().hex}"
    local_dir = urlparse(workdir).path if workdir.startswith("file:") \
        else (None if "://" in workdir else workdir)

    def rmtree(name: str) -> None:
        if local_dir is not None:
            shutil.rmtree(f"{local_dir}/{name}" if name else local_dir,
                          ignore_errors=True)

    def cut(df: DataFrame, name: str) -> DataFrame:
        path = f"{workdir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    und = cut(edges.union(edges.select(F.col("dst").alias("src"),
                                       F.col("src").alias("dst"))), "und")
    labels = cut(und.select(F.col("src").alias("node")).distinct()
                 .withColumn("lbl", F.col("node")), "labels-init")

    try:
        # stage the converged result once more so the returned frame's
        # lineage roots at a single file, then drop every intermediate
        result = cut(_propagate(und, labels, cut), "final")
    except BaseException:
        rmtree("")
        raise
    for name in ("und", "labels-init", "labels-0", "labels-1"):
        rmtree(name)
    return result


def _propagate(und: DataFrame, labels: DataFrame, cut) -> DataFrame:
    """One job per round: the staged parquet write IS the convergence
    probe. The changed-label count rides the write job as an observed
    metric (`DataFrame.observe`), so no second pass recomputes the
    lineage, and the per-round plan cut keeps Catalyst re-analysis flat
    (checkpoint()/localCheckpoint() do not truncate the plan here)."""
    from pyspark.sql import Observation

    for rnd in range(_MAX_ROUNDS):
        # 1-hop: smallest label among neighbours
        nbr = (und.join(labels, und.dst == labels.node)
               .groupBy("src").agg(F.min("lbl").alias("nbr_lbl")))
        # pointer jump: label of my current label
        jump = labels.select(F.col("node").alias("lbl"),
                             F.col("lbl").alias("jump_lbl"))
        stepped = (labels
                   .join(nbr, labels.node == nbr.src, "left")
                   .join(jump, "lbl", "left")
                   .select("node", F.col("lbl").alias("old_lbl"),
                           F.least("lbl",
                                   F.coalesce("nbr_lbl", F.col("lbl")),
                                   F.coalesce("jump_lbl", F.col("lbl")))
                           .alias("lbl")))
        obs = Observation(f"cc-round-{rnd}")
        stepped = stepped.observe(
            obs, F.sum((F.col("lbl") != F.col("old_lbl")).cast("long"))
                  .alias("changed"))
        labels = cut(stepped.drop("old_lbl"), f"labels-{rnd % 2}")
        if (obs.get["changed"] or 0) == 0:
            break
    return labels.select("node", F.col("lbl").alias("cluster_id"))


def _neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = connected_components(_candidate_edges(spark, sf_dir))
    sizes = comps.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (comps.join(sizes, "cluster_id")
            .select(F.col("node").alias("doc_id"), "cluster_id",
                    "cluster_size",
                    (F.col("node") == F.col("cluster_id")).alias("is_canonical")))


_CLUSTERS_SQL = """
WITH RECURSIVE pairs AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
),
und AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst, src FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, und.dst FROM reach JOIN und ON und.src = reach.r
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
sized AS (
    SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id
)
SELECT c.node AS doc_id, c.cluster_id, s.cluster_size,
       c.node = c.cluster_id AS is_canonical
FROM comp c JOIN sized s USING (cluster_id)
"""


def _dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's end product: the corpus with every
    non-canonical cluster member removed (the canonical survivor is the
    min doc_id of each component). Docs outside any candidate pair pass
    through untouched — a left-anti join against the non-canonical set,
    so the big side streams with one shuffle."""
    docs = load(spark, sf_dir, "documents")
    comps = connected_components(_candidate_edges(spark, sf_dir))
    losers = (comps.where(F.col("node") != F.col("cluster_id"))
              .select(F.col("node").alias("doc_id")))
    return (docs.join(losers, "doc_id", "left_anti")
            .select("doc_id", "lang", "source", "n_chars"))


_DEDUP_CANONICAL_SQL = """
WITH RECURSIVE pairs AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
),
und AS (
    SELECT src, dst FROM pairs
    UNION ALL
    SELECT dst, src FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, und.dst FROM reach JOIN und ON und.src = reach.r
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM comp c WHERE c.node = d.doc_id AND c.node <> c.cluster_id
)
"""


def _dedup_pipeline_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete training-data dedup pipeline in one query:
    shingle → MinHash signature → LSH banding → candidate pairs →
    Jaccard verification → connected components → canonical survivor
    per cluster. Every stage is the production-shaped operator (banded
    join, not all-pairs; distributed label propagation, not a driver
    union-find), so the same plan runs at corpus scale."""
    from ..tables import load
    from .dedup_queries import _id_offset, _near_dup_corpus
    from . import dedup as D

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(corpus, "doc_id", "text", n=5, threshold=0.5)
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    losers = (comps.where(F.col("node") != F.col("cluster_id"))
              .select(F.col("node").alias("doc_id")))
    # synthetic copies carry ids >= max(real id)+1 (see dedup_queries);
    # anything below that offset is an original document
    off = _id_offset(load(spark, sf_dir, "documents").select("doc_id"))
    return (corpus.join(losers, "doc_id", "left_anti")
            .crossJoin(off)
            .select("doc_id",
                    (F.col("doc_id") < F.col("_id_off")).alias("is_original")))


def _dedup_pipeline_sql() -> str:
    from .dedup_queries import minhash_pairs_cte

    return f"""
WITH RECURSIVE {minhash_pairs_cte()},
und AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, und.dst FROM reach JOIN und ON und.src = reach.r
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node)
SELECT c.doc_id,
       c.doc_id < (SELECT max(doc_id) + 1 FROM documents) AS is_original
FROM corpus c
WHERE NOT EXISTS (
    SELECT 1 FROM comp WHERE comp.node = c.doc_id
      AND comp.node <> comp.cluster_id
)
"""


# ---- fixed-point PageRank --------------------------------------------------
PR_SCALE = 1_000_000_000_000  # tera units: integer mass, exact everywhere
PR_ITERS = 2
# supplier node ids are namespaced ABOVE max(custkey)+1, derived from the
# data (a fixed constant would alias customers with suppliers at larger
# scale factors — the same bug class the dedup corpora fixed by deriving
# offsets from max(id)+1)


def pagerank_fixed_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer↔supplier bipartite graph (edges =
    distinct (custkey, suppkey) pairs from lineitem⋈orders), PR_ITERS
    power-iteration rounds with damping 0.85 — importance scoring, the
    second iterative graph algorithm class after connected components.

    Fixed-point discipline (the clustering.py recipe): rank mass lives
    in integer tera units; per-round contributions are
    ``floor(pr / deg)`` and the update is
    ``floor(15·S/(100·n)) + floor(85·Σcontrib/100)`` — every quotient
    is a rational with a small denominator, never pathologically close
    to an integer, so the floors are bit-identical across engines (the
    oracle unrolls the same rounds as CTEs). Mass leaks a few units per
    node per round to flooring, which is fine for a RANKING — ordering,
    not conservation, is the contract.

    Scale: each round joins the rank table onto the undirected edge
    list by src (one shuffle) and aggregates contributions by dst
    (map-side combinable) — the standard distributed PageRank; degrees
    ride the same node-keyed join. At 100 TB the driver-paced loop
    stages rounds through parquet cuts exactly like
    :func:`connected_components`; there are no dangling nodes by
    construction (every node enters via an edge).
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = (e0o.select(F.col("c").alias("src"),
                      (F.col("s") + F.col("_off")).alias("dst"))
           .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                   F.col("c").alias("dst"))))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    nn = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    # state carries (node, deg, pr) so each round's contribution join
    # touches ONE table — degree never needs its own join per round
    state = (nodes.crossJoin(nn)
             .select("node", "deg",
                     F.floor(F.lit(PR_SCALE) / F.col("n")).cast("long")
                      .alias("pr")))
    for _ in range(PR_ITERS):
        contrib = (und
                   .join(state.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.floor(F.col("pr") / F.col("deg")).cast("long")
                            .alias("contrib"))
                   .groupBy("dst")
                   .agg(F.sum("contrib").alias("s")))
        state = (nodes.crossJoin(nn)
                 .join(contrib, nodes.node == contrib.dst, "left")
                 .select("node", "deg",
                         (F.floor(F.lit(15 * PR_SCALE) / (100 * F.col("n")))
                          .cast("long")
                          + F.floor(F.coalesce("s", F.lit(0)) * 85 / 100)
                             .cast("long")).alias("pr")))
    return state.crossJoin(off).select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") >= F.col("_off"), "supplier")
         .otherwise("customer").alias("node_type"),
        F.col("pr").alias("pr_tera"),
        F.col("deg").cast("long").alias("degree"))


def _pagerank_sql() -> str:
    ctes = ["""e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", """off AS (SELECT max(c) + 1 AS o FROM e0)""", """und AS (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
)""", """deg AS (SELECT src, count(*) AS deg FROM und GROUP BY src)""",
        """nodes AS (SELECT src AS node, deg FROM deg)""",
        """nn AS (SELECT count(*) AS n FROM nodes)""",
        f"""p0 AS (
    SELECT node, CAST(floor({PR_SCALE} / n) AS BIGINT) AS pr
    FROM nodes CROSS JOIN nn
)"""]
    for i in range(PR_ITERS):
        ctes.append(f"""c{i + 1} AS (
    SELECT u.dst, CAST(sum(CAST(floor(p.pr / d.deg) AS BIGINT)) AS BIGINT)
               AS s
    FROM und u
    JOIN p{i} p ON u.src = p.node
    JOIN deg d ON u.src = d.src
    GROUP BY u.dst
)""")
        ctes.append(f"""p{i + 1} AS (
    SELECT nodes.node,
           CAST(floor({15 * PR_SCALE} / (100 * nn.n)) AS BIGINT)
           + CAST(floor(coalesce(c{i + 1}.s, 0) * 85 / 100) AS BIGINT) AS pr
    FROM nodes CROSS JOIN nn
    LEFT JOIN c{i + 1} ON nodes.node = c{i + 1}.dst
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT p.node AS node_id,
       CASE WHEN p.node >= off.o THEN 'supplier' ELSE 'customer' END
           AS node_type,
       p.pr AS pr_tera,
       CAST(nodes.deg AS BIGINT) AS degree
FROM p{PR_ITERS} p
JOIN nodes ON p.node = nodes.node
CROSS JOIN off
""")


QUERIES = {
    "neardup_clusters": (_neardup_clusters, _CLUSTERS_SQL),
    "dedup_keep_canonical": (_dedup_keep_canonical, _DEDUP_CANONICAL_SQL),
    "dedup_pipeline_end2end": (_dedup_pipeline_end2end, _dedup_pipeline_sql()),
    "pagerank_fixed_point": (pagerank_fixed_point, _pagerank_sql()),
}


# --------------------------------------------------------------------------
# Label propagation over the k-NN graph (semi-supervised labeling)
# --------------------------------------------------------------------------
LP_ROUNDS = 2


def _lp_state(spark: SparkSession, sf_dir: str):
    """(emb, knn-edges, final write-once labels) after ``LP_ROUNDS`` of
    majority-vote propagation — the shared state behind
    ``label_propagation`` (accuracy view) and ``community_modularity``
    (partition-quality view), so the two can never diverge."""
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    edges = (knn_graph(emb, "vec_id", "embedding", k=KNN_K)
             .select("src", "dst"))
    seeds = (emb.where(F.col("vec_id") % 5 == 0)
             .select(F.col("vec_id").alias("node"),
                     F.col("label").alias("lbl")))
    labels = seeds
    for _ in range(LP_ROUNDS):
        votes = (edges
                 .join(labels.withColumnRenamed("node", "dst"), "dst")
                 .groupBy("src", "lbl").agg(F.count(F.lit(1)).alias("n")))
        winner = (votes.groupBy("src")
                  .agg(F.min(F.struct((-F.col("n")).alias("neg"),
                                      F.col("lbl").alias("lbl"))).alias("b"))
                  .select(F.col("src").alias("node"),
                          F.col("b.lbl").alias("lbl")))
        fresh = winner.join(labels.select("node"), "node", "left_anti")
        labels = labels.unionByName(fresh)
    return emb, edges, labels


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label spread: 20% of the embedding corpus keeps
    its label (vec_id % 5 == 0 — the seed set), the rest receive the
    majority label of their already-labeled k-NN-graph neighbors over
    ``LP_ROUNDS`` rounds. This is the cheap labeling pass a curation
    pipeline runs when a small audited subset must be extended to the
    whole corpus (topic tags, quality tiers) without training a model.

    Determinism: votes are integer counts; majority ties break via
    struct-min on (−votes, label) — the repo's argmax idiom. Labels
    are write-once (a node labeled in round r never flips), so round
    unrolling is exactly reproducible in the oracle's CTE chain.

    Scale: each round is one edge⋈labels join keyed on dst (the label
    table is node-keyed and only GROWS toward |V|) plus one
    map-side-combinable vote count keyed on src — the standard
    message-passing shape, same as :func:`pagerank_fixed_point`. The
    k-NN edge list (|V|·k rows) never re-materializes per round; at
    100 TB the driver-paced loop stages the label table through
    parquet cuts exactly like :func:`connected_components`.

    On the driver's uniform-random embeddings, propagated labels hit
    chance accuracy (~10%, labels are independent of geometry there) —
    coverage (495/500 nodes labeled in 2 rounds at sf0.01) and
    determinism are the asserted contract; accuracy becomes meaningful
    on clustered real embeddings.
    """
    emb, edges, labels = _lp_state(spark, sf_dir)
    return (emb.select("vec_id", F.col("label").alias("true_label"))
            .join(labels.withColumnRenamed("node", "vec_id"), "vec_id",
                  "left")
            .select("vec_id", "true_label",
                    F.col("lbl").cast("int").alias("pred_label"),
                    (F.col("vec_id") % 5 == 0).cast("int").alias("is_seed"),
                    F.when(F.col("lbl").isNull(), F.lit(None).cast("int"))
                     .otherwise((F.col("lbl") == F.col("true_label"))
                                .cast("int")).alias("correct")))


def _lp_chain_ctes() -> list[str]:
    """The unrolled propagation CTE chain edges, l0, v1, w1, l1, … —
    shared by the accuracy oracle and the modularity oracle (same
    reuse discipline as learning._w_chain_ctes)."""
    from .similarity_queries import _KNN_GRAPH_SQL

    ctes = [f"edges AS (SELECT src, dst FROM ({_KNN_GRAPH_SQL}))",
            """l0 AS (
    SELECT vec_id AS node, label AS lbl FROM embeddings WHERE vec_id % 5 = 0
)"""]
    for i in range(LP_ROUNDS):
        ctes.append(f"""v{i + 1} AS (
    SELECT e.src, l.lbl, count(*) AS n
    FROM edges e JOIN l{i} l ON e.dst = l.node
    GROUP BY e.src, l.lbl
)""")
        ctes.append(f"""w{i + 1} AS (
    SELECT src AS node,
           min(struct_pack(neg := -n, lbl := lbl)).lbl AS lbl
    FROM v{i + 1} GROUP BY src
)""")
        ctes.append(f"""l{i + 1} AS (
    SELECT node, lbl FROM l{i}
    UNION ALL
    SELECT w.node, w.lbl FROM w{i + 1} w
    WHERE w.node NOT IN (SELECT node FROM l{i})
)""")
    return ctes


def _label_prop_sql() -> str:
    ctes = _lp_chain_ctes()
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT e.vec_id, e.label AS true_label,
       CAST(l.lbl AS INT) AS pred_label,
       CAST(e.vec_id % 5 = 0 AS INT) AS is_seed,
       CASE WHEN l.lbl IS NULL THEN NULL
            ELSE CAST(l.lbl = e.label AS INT) END AS correct
FROM embeddings e
LEFT JOIN l{LP_ROUNDS} l ON l.node = e.vec_id
""")


# --------------------------------------------------------------------------
# Triangle census of the k-NN graph
# --------------------------------------------------------------------------
def knn_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the undirected
    k-NN graph support — the standard one-number diagnostic of whether
    an embedding space has cluster structure (random vectors triangle
    rarely; clustered corpora triangle heavily).

    Algorithm: orient edges a<b (each undirected edge once), join
    wedges (a,b)⋈(b,c) with a<b<c, close against the edge list —
    the classic two-join triangle enumeration; with degree-ordered
    orientation the wedge list stays near-linear for power-law
    graphs. Wedge count Σ deg·(deg−1)/2 is exact integer; the
    coefficient 3T/W is one double division, rounded identically in
    both engines.

    Scale: both joins are keyed shuffles on node ids (8 bytes); the
    k-NN construction bounds out-degree by 2k so the wedge blow-up is
    capped at ~|V|·(2k)² — no skew mitigation needed. One output row.
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    knn = knn_graph(emb, "vec_id", "embedding", k=KNN_K)
    und = (knn.select(F.least("src", "dst").alias("a"),
                      F.greatest("src", "dst").alias("b"))
           .distinct())
    deg = (und.select(F.col("a").alias("n")).unionAll(
               und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    wedges_tot = deg.agg(
        F.sum(F.expr("deg * (deg - 1) div 2")).alias("n_wedges"),
        F.count(F.lit(1)).alias("n_nodes"))
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = (e1.join(e2, "y").join(e3, ["x", "z"])
           .agg(F.count(F.lit(1)).alias("n_triangles")))
    n_edges = und.agg(F.count(F.lit(1)).alias("n_edges"))
    return (wedges_tot.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(tri))
            .select("n_nodes", "n_edges", "n_wedges", "n_triangles",
                    F.round(F.lit(3.0) * F.col("n_triangles")
                            / F.greatest("n_wedges", F.lit(1)), 6)
                     .alias("clustering_coeff")))


def _triangles_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
deg AS (
    SELECT n, count(*) AS deg
    FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
    GROUP BY n
),
wt AS (SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS n_wedges,
              count(*) AS n_nodes FROM deg),
tri AS (
    SELECT count(*) AS n_triangles
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
ne AS (SELECT count(*) AS n_edges FROM und)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       round(3.0 * n_triangles / greatest(n_wedges, 1), 6)
           AS clustering_coeff
FROM wt CROSS JOIN ne CROSS JOIN tri
"""


QUERIES["label_propagation"] = (label_propagation, _label_prop_sql())
QUERIES["knn_triangle_census"] = (knn_triangles, _triangles_sql())


# --------------------------------------------------------------------------
# k-core decomposition (iterative peeling) of the k-NN graph support
# --------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 2


def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core peeling over the undirected k-NN graph: repeatedly drop
    nodes with degree < k (edges vanish with their endpoints), here
    ``KCORE_ROUNDS`` unrolled rounds — the density filter that
    separates genuinely clustered embedding regions from LSH-bucket
    happenstance (a near-dup cluster survives 3-core peeling; a chain
    of coincidental collisions does not). Third member of the
    iterative graph family (components, PageRank).

    Determinism: degrees are exact counts; membership is a pure
    threshold. Scale: each round is one map-side-combinable degree
    count + two semi-joins keyed on node ids; the edge set only
    shrinks. At 100 TB the driver-paced loop stages rounds through
    parquet cuts like :func:`connected_components`; full coreness
    (peel-until-fixpoint) is the same loop run to emptiness.
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = (knn_graph(emb, "vec_id", "embedding", k=KNN_K)
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    # every peel round references the previous edge frame THREE times
    # (degree count + two semi-joins): without persisting, the whole
    # knn pipeline re-executes 3^rounds times (measured: 170 s vs 14 s
    # at sf0.01).
    edges = persist(und)
    for _ in range(KCORE_ROUNDS):
        deg = (edges.select(F.col("a").alias("n")).unionAll(
                   edges.select(F.col("b").alias("n")))
               .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
        keep = deg.where(F.col("deg") >= KCORE_K).select("n")
        edges = persist(
            edges
            .join(keep.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(keep.withColumnRenamed("n", "b"), "b", "left_semi"))
    final_deg = (edges.select(F.col("a").alias("node")).unionAll(
                     edges.select(F.col("b").alias("node")))
                 .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    return final_deg.select("node", F.col("degree").cast("long")
                            .alias("degree"))


def _kcore_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    # MATERIALIZED: every round references e{i} three times; without
    # the hint DuckDB may re-expand the (heavy) knn CTE per reference
    ctes = [f"""e0 AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
)"""]
    for i in range(KCORE_ROUNDS):
        ctes.append(f"""d{i} AS (
    SELECT n, count(*) AS deg
    FROM (SELECT a AS n FROM e{i} UNION ALL SELECT b AS n FROM e{i})
    GROUP BY n
)""")
        ctes.append(f"""k{i} AS (SELECT n FROM d{i} WHERE deg >= {KCORE_K})""")
        ctes.append(f"""e{i + 1} AS MATERIALIZED (
    SELECT a, b FROM e{i}
    WHERE a IN (SELECT n FROM k{i}) AND b IN (SELECT n FROM k{i})
)""")
    last = f"e{KCORE_ROUNDS}"
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT node, count(*) AS degree
FROM (SELECT a AS node FROM {last} UNION ALL SELECT b AS node FROM {last})
GROUP BY node
""")


QUERIES["kcore_decomposition"] = (kcore_decomposition, _kcore_sql())


# --------------------------------------------------------------------------
# BFS level expansion over the customer-supplier bipartite graph
# --------------------------------------------------------------------------
BFS_ROUNDS = 3


def bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BFS: frontier expansion from the smallest customer
    node over the customer↔supplier graph (PageRank's edge list),
    ``BFS_ROUNDS`` unrolled rounds — the traversal member of the graph
    family (components=closure, PageRank=spectral, k-core=density,
    BFS=reachability). Emits one row per level with the frontier size
    and its min/max node ids (a cheap structural fingerprint).

    Scale: each round is one edge⋈frontier join keyed on src plus an
    anti-join against the visited set — the textbook Pregel superstep
    as DataFrames; visited/frontier persist (3 references per round,
    tracked via the similarity module's release list). The graph's
    small diameter (bipartite through popular suppliers) means the
    frontier saturates fast — visible in the level counts.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = persist(
        e0o.select(F.col("c").alias("src"),
                   (F.col("s") + F.col("_off")).alias("dst"))
        .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                F.col("c").alias("dst"))))
    src = F.broadcast(e0.agg(F.min("c").alias("n")))
    frontier = src.select("n")
    visited = frontier
    out = frontier.select(F.lit(0).alias("level"), "n")
    for lvl in range(1, BFS_ROUNDS + 1):
        nxt = persist(und.join(frontier.withColumnRenamed("n", "src"), "src")
                      .select(F.col("dst").alias("n")).distinct()
                      .join(visited, "n", "left_anti"))
        out = out.unionByName(nxt.select(F.lit(lvl).alias("level"), "n"))
        visited = persist(visited.unionByName(nxt))
        frontier = nxt
    return (out.groupBy("level")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.min("n").alias("min_node"),
                 F.max("n").alias("max_node"))
            .select(F.col("level").cast("int").alias("level"),
                    "n_nodes", "min_node", "max_node"))


def _bfs_sql() -> str:
    ctes = ["""e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", "off AS (SELECT max(c) + 1 AS o FROM e0)",
        """und AS MATERIALIZED (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
)""",
        "f0 AS (SELECT min(c) AS n FROM e0)",
        "v0 AS (SELECT n FROM f0)"]
    for lvl in range(1, BFS_ROUNDS + 1):
        ctes.append(f"""f{lvl} AS MATERIALIZED (
    SELECT DISTINCT dst AS n FROM und
    JOIN f{lvl - 1} ON und.src = f{lvl - 1}.n
    WHERE dst NOT IN (SELECT n FROM v{lvl - 1})
)""")
        ctes.append(f"""v{lvl} AS MATERIALIZED (
    SELECT n FROM v{lvl - 1} UNION ALL SELECT n FROM f{lvl}
)""")
    levels = " UNION ALL ".join(
        f"SELECT {lvl} AS level, n FROM f{lvl}"
        for lvl in range(BFS_ROUNDS + 1))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(level AS INT) AS level, count(*) AS n_nodes,
       min(n) AS min_node, max(n) AS max_node
FROM ({levels})
GROUP BY level
""")


QUERIES["bfs_levels"] = (bfs_levels, _bfs_sql())


# --------------------------------------------------------------------------
# Deterministic random-walk sampling (node2vec-style corpus generator)
# --------------------------------------------------------------------------
WALK_STEPS = 4
WALK_SEED_MOD = 30


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-walk sampling, the corpus generator behind node-embedding
    training (DeepWalk/node2vec): from every seed customer (c %
    ``WALK_SEED_MOD`` = 0), take ``WALK_STEPS`` steps over the
    customer↔supplier graph; the "random" next hop is the neighbor
    minimizing md5(seed:step:neighbor) — a derived uniform choice, so
    walks are reproducible, shardable, and bit-identical in the
    oracle (the repo's seeded-sampling idiom).

    Scale: one step = edges⋈frontier keyed join + a struct-min argmin
    per walker (map-side combinable); walkers never interact, so the
    whole pass shards by seed. Emits (seed, step, node) path rows.
    Every step's frontier is persisted and tracked (the bfs_levels /
    kcore discipline): without it one evaluation pays O(K²/2)
    step-joins — the union re-derives every prefix — and every extra
    consumer (walk-PMI's aggregate branches) pays it all again.
    """
    from .sketches import _h48

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = persist(
        e0o.select(F.col("c").alias("src"),
                   (F.col("s") + F.col("_off")).alias("dst"))
        .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                F.col("c").alias("dst"))))
    cur = (e0.select(F.col("c").alias("seed")).distinct()
           .where(F.col("seed") % WALK_SEED_MOD == 0)
           .select("seed", F.col("seed").alias("node")))
    out = cur.select("seed", F.lit(0).alias("step"), "node")
    for step in range(1, WALK_STEPS + 1):
        h = _h48(F.concat_ws(":", F.col("seed").cast("string"),
                             F.lit(str(step)),
                             F.col("dst").cast("string")))
        nxt = persist(
            und.join(cur.withColumnRenamed("node", "src"), "src")
            .groupBy("seed")
            .agg(F.min(F.struct(h.alias("h"),
                                F.col("dst").alias("dst"))).alias("b"))
            .select("seed", F.col("b.dst").alias("node")))
        out = out.unionByName(
            nxt.select("seed", F.lit(step).alias("step"), "node"))
        cur = nxt
    return out.select("seed", F.col("step").cast("int").alias("step"),
                      "node")


def _walks_sql() -> str:
    def h(step):
        return (f"CAST('0x' || substr(md5(CAST(seed AS VARCHAR) || ':{step}:'"
                f" || CAST(dst AS VARCHAR)), 1, 12) AS BIGINT)")

    ctes = ["""e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", "off AS (SELECT max(c) + 1 AS o FROM e0)",
        """und AS MATERIALIZED (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
)""",
        f"""w0 AS (
    SELECT c AS seed, c AS node FROM (SELECT DISTINCT c FROM e0)
    WHERE c % {WALK_SEED_MOD} = 0
)"""]
    for step in range(1, WALK_STEPS + 1):
        ctes.append(f"""w{step} AS MATERIALIZED (
    SELECT seed, min(struct_pack(h := {h(step)}, dst := dst)).dst AS node
    FROM und JOIN w{step - 1} ON und.src = w{step - 1}.node
    GROUP BY seed
)""")
    levels = " UNION ALL ".join(
        f"SELECT seed, {s} AS step, node FROM w{s}"
        for s in range(WALK_STEPS + 1))
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT seed, CAST(step AS INT) AS step, node FROM ({levels})
""")


QUERIES["graph_random_walks"] = (graph_random_walks, _walks_sql())


# --------------------------------------------------------------------------
# Bellman–Ford weighted shortest paths (K relaxation rounds)
# --------------------------------------------------------------------------
BF_ROUNDS = 4


def bellman_ford_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths over the customer↔supplier
    graph: edge weight = cheapest observed lineitem (exact cents) on
    the relation, BF_ROUNDS unrolled relaxation rounds from the
    smallest customer node. Completes the graph family's traversal
    axis (BFS = hop distance, Bellman–Ford = weighted distance).

    Each round is the textbook relax-all superstep as DataFrames:
    dist' = min over (dist ∪ dist⋈edges→(dst, d+w)) per node — one
    keyed join + one min-aggregate, both map-side combinable. All
    arithmetic is int64 cents (min() needs no tie-break — it's a total
    order on values). Emits the 10 nearest nodes plus the reached
    count (frontier fingerprint).

    Scale: identical shape to bfs_levels — rounds persist and release
    via the similarity module's list; at diameter ≫ K switch to a
    convergence loop staged to parquet (same superstep body).
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("w"))
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .groupBy(F.col("o_custkey").alias("c"),
                   F.col("l_suppkey").alias("s"))
          .agg(F.min("w").alias("w")))
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = persist(
        e0o.select(F.col("c").alias("src"),
                   (F.col("s") + F.col("_off")).alias("dst"), "w")
        .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                F.col("c").alias("dst"), "w")))
    dist = e0.agg(F.min("c").alias("node")).select(
        "node", F.lit(0).cast("long").alias("d"))
    for _ in range(BF_ROUNDS):
        relaxed = (und.join(dist.withColumnRenamed("node", "src")
                            .withColumnRenamed("d", "ds"), "src")
                   .select(F.col("dst").alias("node"),
                           (F.col("ds") + F.col("w")).alias("d")))
        dist = persist(dist.unionByName(relaxed)
                       .groupBy("node").agg(F.min("d").alias("d")))
    n_reached = F.broadcast(dist.agg(F.count(F.lit(1)).alias("n_reached")))
    return (dist.crossJoin(n_reached)
            .orderBy(F.asc("d"), F.asc("node"))
            .limit(10)
            .select("node", "d", "n_reached"))


def _bellman_ford_sql() -> str:
    ctes = ["""e0 AS (
    SELECT o.o_custkey AS c, l.l_suppkey AS s,
           CAST(min(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS w
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
)""", """und AS (
    SELECT c AS src, s + (SELECT max(c) + 1 FROM e0) AS dst, w FROM e0
    UNION ALL
    SELECT s + (SELECT max(c) + 1 FROM e0) AS src, c AS dst, w FROM e0
)""", """d0 AS (
    SELECT (SELECT min(c) FROM e0) AS node, 0::BIGINT AS d
)"""]
    prev = "d0"
    for r in range(1, BF_ROUNDS + 1):
        ctes.append(f"""d{r} AS (
    SELECT node, CAST(min(d) AS BIGINT) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT u.dst AS node, p.d + u.w AS d
        FROM und u JOIN {prev} p ON u.src = p.node
    ) GROUP BY node
)""")
        prev = f"d{r}"
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT node, d, (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_reached
FROM {prev}
ORDER BY d ASC, node ASC
LIMIT 10
""")


QUERIES["bellman_ford_distances"] = (bellman_ford_distances,
                                     _bellman_ford_sql())


# --------------------------------------------------------------------------
# DBSCAN over the synthetic geo points (grid ε-join → cores → components)
# --------------------------------------------------------------------------
DB_EPS_MICRO = 5_000_000   # ε = 5° in micro-degrees
DB_MIN_PTS = 3             # |N_ε(p)| including p
_DB_CC_ROUNDS = 25         # pointer-jump doubling: 2^25 ≫ any diameter


def dbscan_geo_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN assembled from the engine's own primitives: ε-pairs via
    the ε-sized grid blocking join (geo_neighbor_join's shape), CORE
    points by neighborhood count ≥ minPts, clusters as connected
    components over core–core edges (the staged min-label operator),
    BORDER points adopted by their minimum-labeled core neighbor,
    everything else NOISE. Output is the cluster census (core/border
    counts per cluster, noise under cluster_id −1).

    Determinism: distances/cells are exact int64 micro-degrees; the
    only label choice is min() (order-free); border adoption is min
    over core neighbors' labels.

    Scale: the ε-join is density-bounded per cell (AQE splits hot
    cells); components stage rounds to parquet exactly like
    ``neardup_clusters``. The recursive-CTE oracle enumerates
    node×reachable pairs — fine at correctness SF, and exactly the
    reason the ENGINE side uses staged min-label rounds instead."""
    from .relational_queries import _geo_points

    pts = _geo_points(spark, sf_dir)
    cell = DB_EPS_MICRO
    based = pts.select(
        "pid", "lat_u", "lon_u",
        F.expr(f"(lon_u + 180000000) div {cell}").alias("cx"),
        F.expr(f"(lat_u + 90000000) div {cell}").alias("cy"))
    probe = (based.select(
        "pid", "lat_u", "lon_u",
        F.explode(F.array(*[F.struct((F.col("cx") + dx).alias("cx"),
                                     (F.col("cy") + dy).alias("cy"))
                            for dx in (-1, 0, 1)
                            for dy in (-1, 0, 1)])).alias("c"))
        .select("pid", "lat_u", "lon_u",
                F.col("c.cx").alias("cx"), F.col("c.cy").alias("cy")))
    dx = F.col("a.lat_u") - F.col("b.lat_u")
    dy = F.col("a.lon_u") - F.col("b.lon_u")
    eps2 = DB_EPS_MICRO * DB_EPS_MICRO
    pairs = (probe.alias("a")
             .join(based.alias("b"), ["cx", "cy"])
             .where((F.col("a.pid") != F.col("b.pid"))
                    & (dx * dx + dy * dy <= F.lit(eps2)))
             .select(F.col("a.pid").alias("src"),
                     F.col("b.pid").alias("dst"))
             .distinct())
    deg = pairs.groupBy("src").agg(F.count(F.lit(1)).alias("nn"))
    core = (deg.where(F.col("nn") + 1 >= DB_MIN_PTS)
            .select(F.col("src").alias("pid")))
    cc_edges = (pairs
                .join(core.select(F.col("pid").alias("src")), "src")
                .join(core.select(F.col("pid").alias("dst")), "dst")
                .where(F.col("src") < F.col("dst"))
                .select("src", "dst"))
    comps = connected_components(cc_edges)  # (node, cluster_id)
    core_labeled = core.join(
        comps.select(F.col("node").alias("pid"), "cluster_id"),
        "pid", "left").select(
        "pid", F.coalesce("cluster_id", F.col("pid")).alias("cluster_id"))
    border = (pairs
              .join(core_labeled.select(F.col("pid").alias("dst"),
                                        "cluster_id"), "dst")
              .join(core.select(F.col("pid").alias("src")), "src",
                    "left_anti")
              .groupBy(F.col("src").alias("pid"))
              .agg(F.min("cluster_id").alias("cluster_id")))
    census = (core_labeled.select("cluster_id", F.lit(1).alias("is_core"))
              .unionByName(border.select("cluster_id",
                                         F.lit(0).alias("is_core")))
              .groupBy("cluster_id")
              .agg(F.sum("is_core").cast("long").alias("n_core"),
                   F.sum(1 - F.col("is_core")).cast("long")
                    .alias("n_border")))
    clustered = (core_labeled.select("pid")
                 .unionByName(border.select("pid")))
    noise = (pts.join(clustered, "pid", "left_anti")
             .agg(F.count(F.lit(1)).alias("n")))
    noise_row = noise.select(F.lit(-1).cast("long").alias("cluster_id"),
                             F.lit(0).cast("long").alias("n_core"),
                             F.col("n").cast("long").alias("n_border"))
    return census.unionByName(noise_row)


def _dbscan_sql() -> str:
    eps2 = DB_EPS_MICRO * DB_EPS_MICRO
    cell = DB_EPS_MICRO
    # Core-graph components via UNROLLED min-label pointer jumping
    # (label-of-label doubling), NOT a recursive closure: `reach`
    # materializes node x reachable-set = Θ(Σ comp_size²) rows, which
    # at sf0.1 (15k points, all core, one giant component) never
    # finishes, while the Spark side converges in log-diameter
    # pointer-jump rounds in 38 s. The same fixpoint (min node id per
    # component) falls out of {_DB_CC_ROUNDS} doubling rounds, each a
    # linear join — 2^{_DB_CC_ROUNDS} ≫ any diameter.
    lbl_rounds = []
    for i in range(_DB_CC_ROUNDS):
        lbl_rounds.append(f"""l{i + 1} AS MATERIALIZED (
    SELECT n.node,
           least(n.lbl, coalesce(nb.m, n.lbl), coalesce(j.lbl, n.lbl))
               AS lbl
    FROM l{i} n
    LEFT JOIN (SELECT e.src AS node, min(l.lbl) AS m
               FROM cc e JOIN l{i} l ON e.dst = l.node
               GROUP BY 1) nb ON nb.node = n.node
    LEFT JOIN l{i} j ON j.node = n.lbl
)""")
    lbl_sql = ",\n".join(lbl_rounds)
    return f"""
WITH pts AS (
    SELECT c_custkey AS pid,
           CAST('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)),
                               1, 12) AS BIGINT) % 180000000 - 90000000
               AS lat_u,
           CAST('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)),
                               1, 12) AS BIGINT) % 360000000 - 180000000
               AS lon_u
    FROM customer
), based AS (
    SELECT pid, lat_u, lon_u,
           (lon_u + 180000000) // {cell} AS cx,
           (lat_u + 90000000) // {cell} AS cy
    FROM pts
), pairs AS (
    SELECT DISTINCT a.pid AS src, b.pid AS dst
    FROM based a, unnest([-1, 0, 1]) AS ox(dx), unnest([-1, 0, 1]) AS oy(dy),
         based b
    WHERE b.cx = a.cx + ox.dx AND b.cy = a.cy + oy.dy
      AND a.pid != b.pid
      AND (a.lat_u - b.lat_u) * (a.lat_u - b.lat_u)
          + (a.lon_u - b.lon_u) * (a.lon_u - b.lon_u) <= {eps2}
), deg AS (
    SELECT src, CAST(count(*) AS BIGINT) AS nn FROM pairs GROUP BY 1
), core AS (
    SELECT src AS pid FROM deg WHERE nn + 1 >= {DB_MIN_PTS}
), cc AS (
    SELECT p.src, p.dst FROM pairs p
    JOIN core c1 ON p.src = c1.pid
    JOIN core c2 ON p.dst = c2.pid
), nodes AS (SELECT DISTINCT src AS node FROM cc),
l0 AS MATERIALIZED (SELECT node, node AS lbl FROM nodes),
{lbl_sql},
comp AS (SELECT node, lbl AS cluster_id FROM l{_DB_CC_ROUNDS}),
core_labeled AS (
    SELECT c.pid, COALESCE(m.cluster_id, c.pid) AS cluster_id
    FROM core c LEFT JOIN comp m ON c.pid = m.node
), border AS (
    SELECT p.src AS pid, min(cl.cluster_id) AS cluster_id
    FROM pairs p
    JOIN core_labeled cl ON p.dst = cl.pid
    WHERE p.src NOT IN (SELECT pid FROM core)
    GROUP BY p.src
), census AS (
    SELECT cluster_id,
           CAST(sum(is_core) AS BIGINT) AS n_core,
           CAST(sum(1 - is_core) AS BIGINT) AS n_border
    FROM (SELECT cluster_id, 1 AS is_core FROM core_labeled
          UNION ALL
          SELECT cluster_id, 0 AS is_core FROM border)
    GROUP BY 1
)
SELECT cluster_id, n_core, n_border FROM census
UNION ALL
SELECT CAST(-1 AS BIGINT) AS cluster_id, CAST(0 AS BIGINT) AS n_core,
       CAST((SELECT count(*) FROM pts)
            - (SELECT count(*) FROM core_labeled)
            - (SELECT count(*) FROM border) AS BIGINT) AS n_border
"""


QUERIES["dbscan_geo_clusters"] = (dbscan_geo_clusters, _dbscan_sql())


# --------------------------------------------------------------------------
# Walk-PMI node similarity (DeepWalk's statistics without the SGD)
# --------------------------------------------------------------------------
_WPMI_WINDOW = 2
_WPMI_TOPK = 3


def walk_pmi_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Node similarity from walk co-occurrence PMI — DeepWalk's
    training signal computed EXACTLY instead of approximated by SGD:
    skip-gram (node, context) pairs from the deterministic walk corpus
    (window ±2 steps), PMI ratio = c_ab·T/(c_a·c_b) on exact integer
    counts, top-3 contexts per focus node ranked by the RATIO (ln is
    monotone, so the ordering is identical to PMI — but ln is NOT
    IEEE-correctly-rounded, so JVM Math.log and libm could disagree by
    1 ulp at a floor boundary; mul/div ARE correctly rounded, so the
    double ratio is bit-identical cross-engine). Emits the e6-floored
    ratio, not ln. Factorizing this matrix IS the embedding
    (Levy & Goldberg 2014) — the engine produces its exact input.

    Scale: pairs are walks × window — linear in the walk corpus; the
    count/total joins are small (visited-node vocabulary), broadcast.
    ``pairs`` feeds FOUR aggregate branches (c_ab/c_a/c_b/tot), so it
    is persisted (tracked via the similarity release list) — without
    it the whole walk join chain re-executes per branch.
    Composes two existing operators (seeded walks, PMI ranking) with
    no new primitives."""
    from pyspark.sql import Window

    walks = graph_random_walks(spark, sf_dir)
    a = walks.select("seed", F.col("step").alias("i"),
                     F.col("node").alias("na"))
    b = walks.select("seed", F.col("step").alias("j"),
                     F.col("node").alias("nb"))
    pairs = persist(a.join(b, "seed")
                    .where((F.abs(F.col("i") - F.col("j")) <= _WPMI_WINDOW)
                           & (F.col("i") != F.col("j")))
                    .select("na", "nb"))
    c_ab = pairs.groupBy("na", "nb").agg(F.count(F.lit(1)).alias("cab"))
    c_a = pairs.groupBy("na").agg(F.count(F.lit(1)).alias("ca"))
    c_b = pairs.groupBy("nb").agg(F.count(F.lit(1)).alias("cb"))
    tot = pairs.agg(F.count(F.lit(1)).alias("t"))
    ratio = (F.col("cab").cast("double") * F.col("t")
             / (F.col("ca").cast("double") * F.col("cb")))
    scored = (c_ab.join(F.broadcast(c_a), "na")
              .join(F.broadcast(c_b), "nb")
              .crossJoin(F.broadcast(tot))
              .select("na", "nb", "cab",
                      ratio.alias("score"),
                      F.floor(F.lit(1_000_000) * ratio)
                       .cast("long").alias("ratio_e6")))
    w = Window.partitionBy("na").orderBy(F.desc("score"), F.asc("nb"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _WPMI_TOPK)
            .select(F.col("na").alias("node"),
                    F.col("nb").alias("context"),
                    F.col("rk").alias("rank"), "cab", "ratio_e6"))


def _walk_pmi_sql() -> str:
    inner = _walks_sql().strip().rstrip(";")
    return f"""
WITH walks AS MATERIALIZED (SELECT * FROM ({inner})),
pairs AS MATERIALIZED (
  SELECT a.node AS na, b.node AS nb
  FROM walks a JOIN walks b
    ON a.seed = b.seed AND a.step != b.step
   AND abs(a.step - b.step) <= {_WPMI_WINDOW}
), c_ab AS (
  SELECT na, nb, CAST(count(*) AS BIGINT) AS cab FROM pairs GROUP BY 1, 2
), c_a AS (SELECT na, CAST(count(*) AS BIGINT) AS ca FROM pairs GROUP BY 1),
c_b AS (SELECT nb, CAST(count(*) AS BIGINT) AS cb FROM pairs GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM pairs),
scored AS (
  SELECT x.na, x.nb, x.cab,
         CAST(x.cab AS DOUBLE) * tt.t
           / (CAST(a.ca AS DOUBLE) * b.cb) AS score,
         CAST(floor(1000000 * (CAST(x.cab AS DOUBLE) * tt.t
                               / (CAST(a.ca AS DOUBLE) * b.cb)))
              AS BIGINT) AS ratio_e6
  FROM c_ab x
  JOIN c_a a ON x.na = a.na
  JOIN c_b b ON x.nb = b.nb
  CROSS JOIN tot tt
)
SELECT na AS node, nb AS context,
       CAST(row_number() OVER (PARTITION BY na
                               ORDER BY score DESC, nb ASC) AS INT) AS rank,
       cab, ratio_e6
FROM scored
QUALIFY rank <= {_WPMI_TOPK}
"""


QUERIES["walk_pmi_similarity"] = (walk_pmi_similarity, _walk_pmi_sql())


# --------------------------------------------------------------------------
# Newman modularity of the label-propagation partition
# --------------------------------------------------------------------------


def _community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-community Newman modularity of the partition
    ``label_propagation`` produces over the undirected k-NN graph —
    the quality number that tells a pipeline whether its communities
    are structure or noise BEFORE anything downstream trusts them
    (random-embedding corpora like the driver's should score ≈ 0; the
    invariant test pins the global-sum bound |Q| ≤ 1).

    Per community c: intra-edge count e_c, degree mass d_c, and the
    contribution q_c = e_c/m − (d_c/2m)² emitted BOTH as the exact
    integer numerator ``q_num = 4·m·e_c − d_c²`` (denominator 4m² —
    summable exactly for a global Q) and as a floored e6 fixed-point.
    Unlabeled nodes become singleton communities (−1 − node), the
    standard completion of a partial partition.

    Determinism: all counts exact int64; the only division is
    1e6·q_num/(4m²) on exact-below-2^53 doubles, floored identically
    (int64 headroom: q_num ≤ 4·m·e_c ≈ 4m² — at 2k-degree-bounded
    m = |V|·k this overflows only past ~|V| ≈ 1.5e7/k · 1e9 … in
    practice |V|·k < 1.5e9 edges keeps 1e6·q_num < 9e18; past that,
    drop the e6 column and keep the exact numerator).

    Scale: the partition join is two node-keyed hash joins of the edge
    list against the |V|-row community map; degrees and intra counts
    are map-side combinable; output is |communities| rows. The edge
    list is built once by the shared ``_lp_state`` (persisted sigs via
    similarity's tracked cache).
    """
    emb, edges, labels = _lp_state(spark, sf_dir)
    und = (edges.select(F.least("src", "dst").alias("a"),
                        F.greatest("src", "dst").alias("b"))
           .distinct())
    comm = (emb.select("vec_id")
            .join(labels.withColumnRenamed("node", "vec_id"), "vec_id",
                  "left")
            .select(F.col("vec_id").alias("node"),
                    F.coalesce(F.col("lbl").cast("long"),
                               F.lit(-1) - F.col("vec_id")).alias("c")))
    m = und.agg(F.count(F.lit(1)).alias("m"))
    ca = comm.select(F.col("node").alias("a"), F.col("c").alias("c_a"))
    cb = comm.select(F.col("node").alias("b"), F.col("c").alias("c_b"))
    intra = (und.join(ca, "a").join(cb, "b")
             .where(F.col("c_a") == F.col("c_b"))
             .groupBy(F.col("c_a").alias("c"))
             .agg(F.count(F.lit(1)).alias("e_intra")))
    deg = (und.select(F.col("a").alias("node")).unionAll(
               und.select(F.col("b").alias("node")))
           .groupBy("node").agg(F.count(F.lit(1)).alias("deg")))
    dsum = (deg.join(comm, "node")
            .groupBy("c").agg(F.sum("deg").alias("d_c"),
                              F.count(F.lit(1)).alias("n_nodes")))
    per_c = (dsum.join(intra, "c", "left")
             .select("c", "n_nodes",
                     F.coalesce("e_intra", F.lit(0)).alias("e_intra"),
                     "d_c")
             .crossJoin(F.broadcast(m)))
    q_num = (4 * F.col("m") * F.col("e_intra")
             - F.col("d_c") * F.col("d_c"))
    return per_c.select(
        "c", "n_nodes", "e_intra", "d_c",
        q_num.cast("long").alias("q_num"),
        F.floor(F.lit(1_000_000.0) * q_num.cast("double")
                / (4 * F.col("m") * F.col("m")).cast("double"))
         .cast("long").alias("q_e6"))


def _modularity_sql() -> str:
    ctes = _lp_chain_ctes()
    return ("WITH " + ",\n".join(ctes) + f""",
und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges
),
comm AS (
    SELECT e.vec_id AS node,
           coalesce(CAST(l.lbl AS BIGINT), -1 - e.vec_id) AS c
    FROM embeddings e
    LEFT JOIN l{LP_ROUNDS} l ON l.node = e.vec_id
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
intra AS (
    SELECT ca.c, CAST(count(*) AS BIGINT) AS e_intra
    FROM und
    JOIN comm ca ON und.a = ca.node
    JOIN comm cb ON und.b = cb.node
    WHERE ca.c = cb.c
    GROUP BY ca.c
),
deg AS (
    SELECT node, count(*) AS deg
    FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
    GROUP BY node
),
dsum AS (
    SELECT c.c, CAST(sum(d.deg) AS BIGINT) AS d_c,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg d JOIN comm c ON c.node = d.node
    GROUP BY c.c
)
SELECT s.c, s.n_nodes, coalesce(i.e_intra, 0) AS e_intra, s.d_c,
       CAST(4 * mm.m * coalesce(i.e_intra, 0) - s.d_c * s.d_c AS BIGINT)
           AS q_num,
       CAST(floor(1000000.0
                  * CAST(4 * mm.m * coalesce(i.e_intra, 0)
                         - s.d_c * s.d_c AS DOUBLE)
                  / CAST(4 * mm.m * mm.m AS DOUBLE)) AS BIGINT) AS q_e6
FROM dsum s LEFT JOIN intra i ON i.c = s.c CROSS JOIN mm
""")


QUERIES["community_modularity"] = (_community_modularity, _modularity_sql())


# --------------------------------------------------------------------------
# HITS hubs & authorities on the customer↔part bipartite graph
# --------------------------------------------------------------------------
HITS_ITERS = 2
HITS_SCALE = 1_000_000
HITS_TOPK = 15


def hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg) over the customer→part purchase graph: hubs =
    customers whose baskets concentrate on authoritative parts,
    authorities = parts bought by strong hubs — the mutual-reinforcement
    ranking PageRank can't express on a bipartite graph (completes the
    iterative-graph family: components / PageRank / label-prop / HITS).
    Output: top-{HITS_TOPK} rows per role (role, node_id, score_e6,
    degree).

    Fixed-point discipline: scores live in integer e6 units; each
    half-round is an integer sum followed by ONE normalization
    ``(raw * SCALE) div max(raw)`` — pure int64 arithmetic in both
    engines (Spark ``div`` == DuckDB ``//`` on BIGINT), no float ever.
    The oracle unrolls the same {HITS_ITERS} rounds as CTEs with scalar
    max() subqueries. Ties in the top-k break on node_id. int64
    headroom: raw ≤ max_degree·SCALE, ×SCALE again ≤ 2^63 while
    max_degree < ~9e6 — at 100 TB renormalize by a power-of-two shift
    first or widen to decimal.

    Scale: each half-round is one key-shuffled sum over the edge list
    (map-side combinable) plus a 1-row broadcast max; the edge list is
    persisted once (tracked by tables.persist) and reused by
    all {HITS_ITERS}×2 message passes. Final top-k is TakeOrdered, no
    global sort shuffle. Reference anchor: bib↔part edge traversal
    (ddl/data_sync_db.sql:82-85) taken to fixpoint.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = persist(li.join(orders, li.l_orderkey == orders.o_orderkey)
                .select(F.col("o_custkey").alias("c"),
                        F.col("l_partkey").alias("p"))
                .distinct())
    a = (e.select("p").distinct()
         .withColumn("a", F.lit(HITS_SCALE).cast("long")))
    h = None
    for _ in range(HITS_ITERS):
        # each raw frame feeds TWO branches (its own max() and the next
        # join): persist every round or the edge-join chain re-executes
        # 2^(2·rounds) times (CLAUDE.md multi-branch hazard; measured
        # 41 s → ~8 s at sf0.001)
        h_raw = persist(
            e.join(a, "p").groupBy("c").agg(F.sum("a").alias("hr")))
        mh = F.broadcast(h_raw.agg(F.max("hr").alias("mh")))
        h = (h_raw.crossJoin(mh)
             .select("c", F.expr(f"(hr * {HITS_SCALE}) div mh").alias("h")))
        a_raw = persist(
            e.join(h, "c").groupBy("p").agg(F.sum("h").alias("ar")))
        ma = F.broadcast(a_raw.agg(F.max("ar").alias("ma")))
        a = (a_raw.crossJoin(ma)
             .select("p", F.expr(f"(ar * {HITS_SCALE}) div ma").alias("a")))
    degc = e.groupBy("c").agg(F.count(F.lit(1)).alias("deg"))
    degp = e.groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
    hubs = (h.join(degc, "c")
            .select(F.lit("hub").alias("role"),
                    F.col("c").alias("node_id"),
                    F.col("h").alias("score_e6"),
                    F.col("deg").cast("long").alias("degree"))
            .orderBy(F.desc("score_e6"), "node_id").limit(HITS_TOPK))
    auths = (a.join(degp, "p")
             .select(F.lit("authority").alias("role"),
                     F.col("p").alias("node_id"),
                     F.col("a").alias("score_e6"),
                     F.col("deg").cast("long").alias("degree"))
             .orderBy(F.desc("score_e6"), "node_id").limit(HITS_TOPK))
    return hubs.unionByName(auths)


def _hits_sql() -> str:
    ctes = ["""e AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", f"""a0 AS (
    SELECT DISTINCT p, CAST({HITS_SCALE} AS BIGINT) AS a FROM e
)"""]
    for i in range(HITS_ITERS):
        ctes.append(f"""hr{i + 1} AS (
    SELECT c, CAST(sum(a) AS BIGINT) AS hr
    FROM e JOIN a{i} USING (p) GROUP BY c
)""")
        ctes.append(f"""h{i + 1} AS (
    SELECT c, (hr * {HITS_SCALE}) // (SELECT max(hr) FROM hr{i + 1}) AS h
    FROM hr{i + 1}
)""")
        ctes.append(f"""ar{i + 1} AS (
    SELECT p, CAST(sum(h) AS BIGINT) AS ar
    FROM e JOIN h{i + 1} USING (c) GROUP BY p
)""")
        ctes.append(f"""a{i + 1} AS (
    SELECT p, (ar * {HITS_SCALE}) // (SELECT max(ar) FROM ar{i + 1}) AS a
    FROM ar{i + 1}
)""")
    k = HITS_ITERS
    return ("WITH " + ",\n".join(ctes) + f""",
degc AS (SELECT c, count(*) AS deg FROM e GROUP BY c),
degp AS (SELECT p, count(*) AS deg FROM e GROUP BY p),
hubs AS (
    SELECT 'hub' AS role, c AS node_id, h AS score_e6,
           CAST(deg AS BIGINT) AS degree
    FROM h{k} JOIN degc USING (c)
    ORDER BY score_e6 DESC, node_id LIMIT {HITS_TOPK}
),
auths AS (
    SELECT 'authority' AS role, p AS node_id, a AS score_e6,
           CAST(deg AS BIGINT) AS degree
    FROM a{k} JOIN degp USING (p)
    ORDER BY score_e6 DESC, node_id LIMIT {HITS_TOPK}
)
SELECT * FROM hubs UNION ALL SELECT * FROM auths
""")


QUERIES["hits_hubs_authorities"] = (hits_hubs_authorities, _hits_sql())


# --------------------------------------------------------------------------
# Local clustering-coefficient profile of the k-NN graph
# --------------------------------------------------------------------------
def local_clustering_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient of the undirected k-NN
    graph, aggregated into coefficient deciles: (bucket, n_nodes,
    mean_coeff_e6, mean_deg_e3). ``knn_triangle_census`` answers "does
    the graph triangle at all" with one global number; this shows the
    DISTRIBUTION — a bimodal profile (dense cores + tree-like fringe)
    is what tells a curation pipeline that semantic-dedup cells will be
    uneven. Nodes with degree < 2 have no defined coefficient and are
    excluded (documented contract).

    Determinism: coeff_e6 = (2e6·tri) div (deg·(deg−1)) is pure int64;
    bucket = coeff_e6 div 100000; per-bucket means are integer div.

    Scale: triangle enumeration is the census's two keyed joins
    (degree-bounded by the k-NN construction, ≤ |V|·(2k)² wedges); the
    per-node explode is 3 rows per triangle; everything else is
    node-keyed aggregation. The edge frame feeds four branches (deg +
    three join legs) so it is persisted (tracked by
    tables.persist).
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = persist(knn_graph(emb, "vec_id", "embedding", k=KNN_K)
                  .select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
                  .distinct())
    deg = (und.select(F.col("a").alias("n")).unionAll(
               und.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("deg")))
    e1 = und.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = und.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = und.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tris = e1.join(e2, "y").join(e3, ["x", "z"])
    tri_nodes = (tris.select(F.col("x").alias("n"))
                 .unionAll(tris.select(F.col("y").alias("n")))
                 .unionAll(tris.select(F.col("z").alias("n")))
                 .groupBy("n").agg(F.count(F.lit(1)).alias("tri")))
    per_node = (deg.where(F.col("deg") >= 2)
                .join(tri_nodes, "n", "left")
                .select("n", "deg",
                        F.coalesce("tri", F.lit(0)).alias("tri"))
                .withColumn("coeff_e6",
                            F.expr("(2000000 * tri) div (deg * (deg - 1))")))
    return (per_node
            .withColumn("bucket", F.expr("coeff_e6 div 100000"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.expr("sum(coeff_e6) div count(*)").alias("mean_coeff_e6"),
                 F.expr("(1000 * sum(deg)) div count(*)")
                  .alias("mean_deg_e3")))


def _local_clustering_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
deg AS (
    SELECT n, count(*) AS deg
    FROM (SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und)
    GROUP BY n
),
tris AS (
    SELECT e1.a AS x, e1.b AS y, e2.b AS z
    FROM und e1
    JOIN und e2 ON e1.b = e2.a
    JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_nodes AS (
    SELECT n, count(*) AS tri
    FROM (SELECT x AS n FROM tris UNION ALL SELECT y AS n FROM tris
          UNION ALL SELECT z AS n FROM tris)
    GROUP BY n
),
per_node AS (
    SELECT d.n, d.deg, coalesce(t.tri, 0) AS tri,
           (2000000 * coalesce(t.tri, 0)) // (d.deg * (d.deg - 1))
               AS coeff_e6
    FROM deg d LEFT JOIN tri_nodes t ON d.n = t.n
    WHERE d.deg >= 2
)
SELECT coeff_e6 // 100000 AS bucket,
       count(*) AS n_nodes,
       CAST(sum(coeff_e6) AS BIGINT) // count(*) AS mean_coeff_e6,
       (1000 * CAST(sum(deg) AS BIGINT)) // count(*) AS mean_deg_e3
FROM per_node GROUP BY 1
"""


QUERIES["local_clustering_profile"] = (local_clustering_profile,
                                       _local_clustering_sql())


# --------------------------------------------------------------------------
# Degree assortativity of the k-NN graph
# --------------------------------------------------------------------------
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the undirected k-NN graph — do
    high-degree nodes attach to high-degree nodes? Positive r means
    hub-clustered (social-network-like) embedding neighborhoods;
    negative means hub-and-spoke (star-like), which predicts skewed
    semantic-dedup cells. One output row: (m_ends, sum_x, sum_xy,
    sum_x2, assortativity_r).

    With each edge counted in BOTH orientations the x/y marginals are
    identical, so Pearson r collapses to the sqrt-free rational
    r = (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²) — exact int64 sums, ONE
    double division rounded identically in both engines (the
    knn_triangle_census convention). Degenerate regular graph
    (denominator 0) reports r = 0. int64 headroom: deg ≤ 2k, so
    M·Σx² ≤ M²·(2k)² — fine to M ≈ 7e8 edge-ends; beyond that compute
    the moments in DECIMAL(38).

    Scale: one node-keyed degree aggregation, one edge-keyed join to
    attach endpoint degrees (both map-side combinable after the initial
    shuffle), then a 1-row global moment sum. No all-pairs anything.
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = (knn_graph(emb, "vec_id", "embedding", k=KNN_K)
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct())
    dirn = und.unionAll(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    deg = dirn.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    ends = (dirn
            .join(deg.withColumnRenamed("a", "_sa"),
                  F.col("a") == F.col("_sa"))
            .withColumnRenamed("deg", "dx")
            .join(deg.withColumnRenamed("a", "_sb")
                     .withColumnRenamed("deg", "dy"),
                  F.col("b") == F.col("_sb"))
            .select("dx", "dy"))
    mom = ends.agg(F.count(F.lit(1)).alias("m_ends"),
                   F.sum("dx").alias("sum_x"),
                   F.sum(F.col("dx") * F.col("dy")).alias("sum_xy"),
                   F.sum(F.col("dx") * F.col("dx")).alias("sum_x2"))
    num = F.col("m_ends") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_x")
    den = F.col("m_ends") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x")
    return mom.select(
        "m_ends", "sum_x", "sum_xy", "sum_x2",
        F.when(den == 0, F.lit(0.0))
         .otherwise(F.round(num.cast("double") / den, 6))
         .alias("assortativity_r"))


def _assortativity_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
dirn AS (
    SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und
),
deg AS (SELECT a, count(*) AS deg FROM dirn GROUP BY a),
ends AS (
    SELECT da.deg AS dx, db.deg AS dy
    FROM dirn
    JOIN deg da ON dirn.a = da.a
    JOIN deg db ON dirn.b = db.a
),
mom AS (
    SELECT count(*) AS m_ends,
           CAST(sum(dx) AS BIGINT) AS sum_x,
           CAST(sum(dx * dy) AS BIGINT) AS sum_xy,
           CAST(sum(dx * dx) AS BIGINT) AS sum_x2
    FROM ends
)
SELECT m_ends, sum_x, sum_xy, sum_x2,
       CASE WHEN m_ends * sum_x2 - sum_x * sum_x = 0 THEN 0.0
            ELSE round(CAST(m_ends * sum_xy - sum_x * sum_x AS DOUBLE)
                       / (m_ends * sum_x2 - sum_x * sum_x), 6)
       END AS assortativity_r
FROM mom
"""


QUERIES["degree_assortativity"] = (degree_assortativity,
                                   _assortativity_sql())


# --------------------------------------------------------------------------
# Incremental connected components (cluster maintenance on batch arrival)
# --------------------------------------------------------------------------
def incremental_connected_components(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Duplicate-cluster maintenance when a document batch arrives
    (docs with doc_id % 10 == 5 play the new batch, the
    ``ann_index_incremental`` convention): instead of re-running
    connected components over the whole corpus, the existing partition
    is STAR-COMPRESSED — every labeled node contributes one (node →
    label) edge — and components run over (batch-touching candidate
    edges ∪ star edges) only. Star edges preserve connectivity and add
    none, and labels are component minima, so the incremental labels
    EQUAL a full rebuild — which is exactly what the DuckDB oracle
    computes (one full-corpus recursive-CTE CC): the parity gate IS
    the incremental==rebuild law. Output (one row): n_docs,
    n_new_docs, n_components_base, n_components_final, n_fused,
    n_new_singletons.

    Scale: the delta edge set is bounded by the batch's blocking
    buckets, and the star graph has diameter 2, so the propagation
    loop converges in ~2 rounds on the compressed graph instead of
    O(log n) over the full corpus — the point of incremental
    maintenance. Both label frames are parquet-staged by
    ``connected_components``, so the count branches re-read files, not
    lineage.
    """
    from .similarity_queries import INC_MOD, INC_REM

    docs = load(spark, sf_dir, "documents").select("doc_id")
    full_e = persist(_candidate_edges(spark, sf_dir))
    is_new = lambda c: c % INC_MOD == INC_REM
    base_e = full_e.where(~is_new(F.col("src")) & ~is_new(F.col("dst")))
    delta_e = full_e.where(is_new(F.col("src")) | is_new(F.col("dst")))
    base_lbl = connected_components(base_e)
    star = base_lbl.select(F.col("node").alias("src"),
                           F.col("cluster_id").alias("dst"))
    merged = connected_components(
        delta_e.select("src", "dst").unionByName(star))

    base_docs = docs.where(~is_new(F.col("doc_id")))
    new_docs = docs.where(is_new(F.col("doc_id")))
    cnt = F.broadcast(docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(is_new(F.col("doc_id")).cast("long")).alias("n_new_docs")))
    bstats = F.broadcast(
        base_docs.join(base_lbl.withColumnRenamed("node", "doc_id"),
                       "doc_id", "left")
        .agg((F.sum(F.col("cluster_id").isNull().cast("long"))
              + F.countDistinct("cluster_id")).alias("n_components_base")))
    fstats = F.broadcast(
        docs.join(merged.withColumnRenamed("node", "doc_id"),
                  "doc_id", "left")
        .agg((F.sum(F.col("cluster_id").isNull().cast("long"))
              + F.countDistinct("cluster_id")).alias("n_components_final")))
    bfin = F.broadcast(
        base_docs.join(merged.withColumnRenamed("node", "doc_id"),
                       "doc_id", "left")
        .agg(F.countDistinct(F.coalesce("cluster_id", "doc_id"))
             .alias("_d_base_final")))
    nsing = F.broadcast(
        new_docs.join(merged.withColumnRenamed("node", "doc_id"),
                      "doc_id", "left")
        .agg(F.sum(F.col("cluster_id").isNull().cast("long"))
             .alias("n_new_singletons")))
    return (cnt.crossJoin(bstats).crossJoin(fstats).crossJoin(bfin)
            .crossJoin(nsing)
            .select("n_docs", "n_new_docs", "n_components_base",
                    "n_components_final",
                    (F.col("n_components_base") - F.col("_d_base_final"))
                    .alias("n_fused"),
                    "n_new_singletons"))


def _inc_cc_sql() -> str:
    from .similarity_queries import INC_MOD, INC_REM

    new = f"% {INC_MOD} = {INC_REM}"
    old = f"% {INC_MOD} <> {INC_REM}"
    return f"""
WITH RECURSIVE pairs AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
),
und_f AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
nodes_f AS (SELECT DISTINCT src AS node FROM und_f),
reach_f(node, r) AS (
    SELECT node, node FROM nodes_f
    UNION
    SELECT reach_f.node, und_f.dst FROM reach_f
    JOIN und_f ON und_f.src = reach_f.r
),
comp_f AS (SELECT node, min(r) AS cluster_id FROM reach_f GROUP BY node),
bpairs AS (SELECT src, dst FROM pairs
           WHERE src {old} AND dst {old}),
und_b AS (SELECT src, dst FROM bpairs UNION ALL SELECT dst, src FROM bpairs),
nodes_b AS (SELECT DISTINCT src AS node FROM und_b),
reach_b(node, r) AS (
    SELECT node, node FROM nodes_b
    UNION
    SELECT reach_b.node, und_b.dst FROM reach_b
    JOIN und_b ON und_b.src = reach_b.r
),
comp_b AS (SELECT node, min(r) AS cluster_id FROM reach_b GROUP BY node),
cnt AS (SELECT count(*) AS n_docs,
               CAST(sum(CASE WHEN doc_id {new} THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_new_docs
        FROM documents),
bstats AS (
    SELECT CAST(sum(CASE WHEN c.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           + count(DISTINCT c.cluster_id) AS n_components_base
    FROM documents d LEFT JOIN comp_b c ON d.doc_id = c.node
    WHERE d.doc_id {old}
),
fstats AS (
    SELECT CAST(sum(CASE WHEN c.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           + count(DISTINCT c.cluster_id) AS n_components_final
    FROM documents d LEFT JOIN comp_f c ON d.doc_id = c.node
),
bfin AS (
    SELECT count(DISTINCT coalesce(c.cluster_id, d.doc_id)) AS d_base_final
    FROM documents d LEFT JOIN comp_f c ON d.doc_id = c.node
    WHERE d.doc_id {old}
),
nsing AS (
    SELECT CAST(sum(CASE WHEN c.node IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_new_singletons
    FROM documents d LEFT JOIN comp_f c ON d.doc_id = c.node
    WHERE d.doc_id {new}
)
SELECT cnt.n_docs, cnt.n_new_docs, bstats.n_components_base,
       fstats.n_components_final,
       bstats.n_components_base - bfin.d_base_final AS n_fused,
       nsing.n_new_singletons
FROM cnt CROSS JOIN bstats CROSS JOIN fstats CROSS JOIN bfin
CROSS JOIN nsing
"""


QUERIES["incremental_connected_components"] = (
    incremental_connected_components, _inc_cc_sql())


# --------------------------------------------------------------------------
# Golden-record survivorship merge over duplicate clusters
# --------------------------------------------------------------------------
def golden_record_survivorship(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The entity-resolution step AFTER clustering: fuse every
    multi-member duplicate cluster into one golden record with
    column-level survivorship rules — id = cluster minimum (stable
    key), lang = cluster mode (most frequent wins, ties lexicographic),
    source = the longest member's source (most-complete-record wins,
    ties lowest doc_id), n_chars = cluster max. ``dedup_keep_canonical``
    picks a surviving ROW; this builds the merged record MDM-style
    survivorship actually ships. Output: (cluster_id, n_members,
    golden_lang, golden_source, max_chars).

    Determinism: every rule is a struct-min argmax with an explicit
    tie column; the component labels are the proven-deterministic
    min-label closure.

    Scale: components come from the pointer-jumping closure
    (parquet-staged rounds); survivorship is two cluster-keyed
    aggregates (the lang mode needs its own (cluster, lang) pass) —
    both map-side combinable, output bounded by cluster count.
    """
    docs = load(spark, sf_dir, "documents")
    comps = connected_components(_candidate_edges(spark, sf_dir))
    members = (docs.join(comps.withColumnRenamed("node", "doc_id"),
                         "doc_id")
               .select("cluster_id", "doc_id", "lang", "source",
                       "n_chars"))
    lang_mode = (members.groupBy("cluster_id", "lang")
                 .agg(F.count(F.lit(1)).alias("cnt"))
                 .groupBy("cluster_id")
                 .agg(F.min(F.struct((-F.col("cnt")).alias("nc"),
                                     F.col("lang").alias("l")))
                      .getField("l").alias("golden_lang")))
    fused = (members.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("n_members"),
                  F.min(F.struct((-F.col("n_chars")).alias("nn"),
                                 F.col("doc_id").alias("d"),
                                 F.col("source").alias("s")))
                   .getField("s").alias("golden_source"),
                  F.max("n_chars").alias("max_chars")))
    return (fused.join(lang_mode, "cluster_id")
            .where(F.col("n_members") > 1)
            .select("cluster_id", "n_members", "golden_lang",
                    "golden_source", "max_chars"))


_GOLDEN_SQL = """
WITH RECURSIVE pairs AS (
    SELECT a.doc_id AS src, b.doc_id AS dst
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= 20
),
und AS (SELECT src, dst FROM pairs UNION ALL SELECT dst, src FROM pairs),
nodes AS (SELECT DISTINCT src AS node FROM und),
reach(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach.node, und.dst FROM reach JOIN und ON und.src = reach.r
),
comp AS (SELECT node, min(r) AS cluster_id FROM reach GROUP BY node),
members AS (
    SELECT c.cluster_id, d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d JOIN comp c ON d.doc_id = c.node
),
lang_mode AS (
    SELECT cluster_id,
           (min(struct_pack(nc := -cnt, l := lang))).l AS golden_lang
    FROM (SELECT cluster_id, lang, count(*) AS cnt
          FROM members GROUP BY 1, 2)
    GROUP BY cluster_id
),
fused AS (
    SELECT cluster_id, count(*) AS n_members,
           (min(struct_pack(nn := -n_chars, d := doc_id,
                            s := source))).s AS golden_source,
           max(n_chars) AS max_chars
    FROM members GROUP BY cluster_id
)
SELECT f.cluster_id, f.n_members, l.golden_lang, f.golden_source,
       f.max_chars
FROM fused f JOIN lang_mode l USING (cluster_id)
WHERE f.n_members > 1
"""

QUERIES["golden_record_survivorship"] = (golden_record_survivorship,
                                         _GOLDEN_SQL)


# --------------------------------------------------------------------------
# Personalized PageRank (seed-restart importance)
# --------------------------------------------------------------------------

PPR_SEEDS = 5


def personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank: identical power iteration to
    :func:`pagerank_fixed_point` except the 15% restart mass teleports
    to a fixed SEED set (the {PPR_SEEDS} lowest customer ids) instead
    of spreading uniformly — the "importance relative to THESE users"
    scoring behind who-to-follow and related-item features, and the
    localized-community primitive (Andersen-Chung-Lang). Same
    fixed-point tera-unit discipline: every quotient a small-
    denominator rational, floors bit-identical, oracle unrolls the
    rounds. Output: (node_id, node_type, ppr_tera, degree, is_seed).

    Scale: per round one src-keyed join + map-side-combinable dst
    aggregate, exactly the uniform PageRank shape; the seed set is a
    broadcast. Mass concentrates near the seeds — the point — so the
    rank table stays node-sized and the iteration count, not the seed
    count, bounds cost.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = (e0o.select(F.col("c").alias("src"),
                      (F.col("s") + F.col("_off")).alias("dst"))
           .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                   F.col("c").alias("dst"))))
    deg = und.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("src").alias("node"), "deg")
    seeds = (nodes.crossJoin(off)
             .where(F.col("node") < F.col("_off"))
             .orderBy("node").limit(PPR_SEEDS)
             .select("node", F.lit(1).alias("is_seed")))
    restart = PR_SCALE * 15 // (100 * PPR_SEEDS)
    state = (nodes.join(F.broadcast(seeds), "node", "left")
             .select("node", "deg",
                     F.when(F.col("is_seed") == 1,
                            F.lit(PR_SCALE // PPR_SEEDS))
                      .otherwise(F.lit(0)).cast("long").alias("pr")))
    for _ in range(PR_ITERS):
        contrib = (und
                   .join(state.withColumnRenamed("node", "src"), "src")
                   .select("dst",
                           F.floor(F.col("pr") / F.col("deg")).cast("long")
                            .alias("contrib"))
                   .groupBy("dst")
                   .agg(F.sum("contrib").alias("s")))
        state = (nodes.join(F.broadcast(seeds), "node", "left")
                 .join(contrib, nodes.node == contrib.dst, "left")
                 .select("node", "deg",
                         (F.when(F.col("is_seed") == 1, F.lit(restart))
                           .otherwise(F.lit(0)).cast("long")
                          + F.floor(F.coalesce("s", F.lit(0)) * 85 / 100)
                             .cast("long")).alias("pr")))
    return (state.join(F.broadcast(seeds), "node", "left")
            .crossJoin(off)
            .select(F.col("node").alias("node_id"),
                    F.when(F.col("node") >= F.col("_off"), "supplier")
                     .otherwise("customer").alias("node_type"),
                    F.col("pr").alias("ppr_tera"),
                    F.col("deg").cast("long").alias("degree"),
                    F.coalesce("is_seed", F.lit(0)).cast("int")
                     .alias("is_seed")))


def _ppr_sql() -> str:
    restart = PR_SCALE * 15 // (100 * PPR_SEEDS)
    ctes = ["""e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", "off AS (SELECT max(c) + 1 AS o FROM e0)", """und AS (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
)""", """deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
    FROM und GROUP BY src)""",
        "nodes AS (SELECT src AS node, deg FROM deg)",
        f"""seeds AS (
    SELECT node, 1 AS is_seed FROM nodes CROSS JOIN off
    WHERE node < off.o ORDER BY node LIMIT {PPR_SEEDS}
)""", f"""p0 AS (
    SELECT n.node,
           CAST(CASE WHEN s.is_seed = 1
                THEN {PR_SCALE // PPR_SEEDS} ELSE 0 END AS BIGINT) AS pr
    FROM nodes n LEFT JOIN seeds s ON n.node = s.node
)"""]
    for i in range(PR_ITERS):
        ctes.append(f"""c{i + 1} AS (
    SELECT u.dst,
           CAST(sum(CAST(floor(p.pr / d.deg) AS BIGINT)) AS BIGINT) AS s
    FROM und u
    JOIN p{i} p ON u.src = p.node
    JOIN deg d ON u.src = d.src
    GROUP BY u.dst
)""")
        ctes.append(f"""p{i + 1} AS (
    SELECT n.node,
           CAST(CASE WHEN sd.is_seed = 1 THEN {restart} ELSE 0 END
                AS BIGINT)
           + CAST(floor(coalesce(c{i + 1}.s, 0) * 85 / 100) AS BIGINT)
               AS pr
    FROM nodes n
    LEFT JOIN seeds sd ON n.node = sd.node
    LEFT JOIN c{i + 1} ON n.node = c{i + 1}.dst
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT p.node AS node_id,
       CASE WHEN p.node >= off.o THEN 'supplier' ELSE 'customer' END
           AS node_type,
       p.pr AS ppr_tera,
       CAST(nodes.deg AS BIGINT) AS degree,
       CAST(coalesce(sd.is_seed, 0) AS INT) AS is_seed
FROM p{PR_ITERS} p
JOIN nodes ON p.node = nodes.node
LEFT JOIN seeds sd ON p.node = sd.node
CROSS JOIN off
""")


QUERIES["personalized_pagerank"] = (personalized_pagerank, _ppr_sql())


# --------------------------------------------------------------------------
# modularity_gain_moves: one synchronous round of Louvain-style node moves
# --------------------------------------------------------------------------

def _modularity_gain_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One SYNCHRONOUS round of modularity-gain node moves over the
    label-propagation partition — the parallel variant of Louvain's
    local-move phase (every node simultaneously evaluates moving to a
    neighbor community against the CURRENT snapshot; sequential Louvain
    is inherently serial, this is the form a 1000-executor cluster
    actually runs, cf. distributed Louvain literature). Node i moves to
    the candidate community c maximizing the exact integer gain proxy
    ``g(c) = 2m·l_ic − d_c·k_i`` (ΔQ·2m², constant terms dropped)
    when that strictly beats staying, where staying scores
    ``2m·l_i,ci − (d_ci − k_i)·k_i`` (own degree excluded from its
    community mass, the standard Louvain correction). Reports the
    partition quality BEFORE and AFTER from exact global modularity
    numerators — synchronous moves can in principle overshoot (label
    flip-flop), so the honest output is the measured ΔQ, not an
    assumption of improvement.

    Determinism: every gain, tie-break (min struct on (−g, c)), and
    modularity numerator is exact int64 (headroom: 2m·l ≤ 2·|E|·k_max;
    d_c·k_i ≤ (2|E|)·k_max — int64-safe through ~1e14 edge-degree
    products); the only doubles are the final e6 divisions by 4m² on
    exact inputs, written identically in both engines.

    Scale: l_ic is one groupBy over the directed edge list joined to
    the |V|-row community map (node-keyed hash joins, map-side
    combinable counts); candidate evaluation is |l_ic| rows — bounded
    by 2|E|; the before/after quality passes are the
    ``community_modularity`` shape twice. No all-pairs anything.
    """
    emb, edges, labels = _lp_state(spark, sf_dir)
    # und feeds ~8 plan branches (degrees, d_c, l_ic, both quality
    # passes) and comm ~6; without persisting, the whole knn+LP chain
    # re-executes per branch (the CLAUDE.md multi-branch hazard —
    # measured minutes vs seconds at sf0.01).
    und = persist(edges.select(F.least("src", "dst").alias("a"),
                               F.greatest("src", "dst").alias("b"))
                  .distinct())
    comm = persist(emb.select("vec_id")
                   .join(labels.withColumnRenamed("node", "vec_id"), "vec_id",
                         "left")
                   .select(F.col("vec_id").alias("node"),
                           F.coalesce(F.col("lbl").cast("long"),
                                      F.lit(-1) - F.col("vec_id")).alias("c")))
    m = F.broadcast(und.agg(F.count(F.lit(1)).alias("m")))
    dir_ = (und.select(F.col("a").alias("i"), F.col("b").alias("j"))
            .unionAll(und.select(F.col("b").alias("i"),
                                 F.col("a").alias("j"))))
    deg = dir_.groupBy("i").agg(F.count(F.lit(1)).alias("k_i"))
    d_c = (dir_.join(comm.withColumnRenamed("node", "i"), "i")
           .groupBy("c").agg(F.count(F.lit(1)).alias("d_c")))
    l_ic = (dir_.join(comm.withColumnRenamed("node", "j"), "j")
            .groupBy("i", "c").agg(F.count(F.lit(1)).alias("l")))
    own = comm.withColumnRenamed("node", "i").withColumnRenamed("c", "ci")
    base = (l_ic.join(own, "i").join(deg, "i")
            .join(d_c, "c").crossJoin(m))

    stay = (base.filter(F.col("c") == F.col("ci"))
            .select("i", (2 * F.col("m") * F.col("l")).alias("l_term"))
            )
    stay_full = (own.join(deg, "i").join(
        d_c.withColumnRenamed("c", "ci"), "ci").crossJoin(m)
        .join(stay, "i", "left")
        .select("i", "ci", "k_i",
                (F.coalesce("l_term", F.lit(0))
                 - (F.col("d_c") - F.col("k_i")) * F.col("k_i"))
                .alias("g_stay")))
    best = (base.filter(F.col("c") != F.col("ci"))
            .select("i",
                    (2 * F.col("m") * F.col("l")
                     - F.col("d_c") * F.col("k_i")).alias("g"),
                    "c")
            .groupBy("i")
            .agg(F.min(F.struct((-F.col("g")).alias("ng"),
                                F.col("c").alias("c"))).alias("b"))
            .select("i", (-F.col("b.ng")).alias("g_best"),
                    F.col("b.c").alias("c_best")))
    moved = (stay_full.join(best, "i", "left")
             .select(F.col("i").alias("node"),
                     F.when(F.col("g_best") > F.col("g_stay"),
                            F.col("c_best"))
                     .otherwise(F.col("ci")).alias("c"),
                     (F.col("g_best") > F.col("g_stay")).cast("long")
                     .alias("did_move")))
    comm2 = persist(
        comm.join(moved.select("node", F.col("c").alias("c2"),
                               "did_move"), "node", "left")
        .select("node", F.coalesce("c2", F.col("c")).alias("c"),
                F.coalesce("did_move", F.lit(0)).alias("did_move")))

    def _q_num(cmap):
        ca = cmap.select(F.col("node").alias("a"), F.col("c").alias("c_a"))
        cb = cmap.select(F.col("node").alias("b"), F.col("c").alias("c_b"))
        e_intra = (und.join(ca, "a").join(cb, "b")
                   .where(F.col("c_a") == F.col("c_b"))
                   .agg(F.count(F.lit(1)).alias("e_in")))
        dsq = (dir_.join(cmap.withColumnRenamed("node", "i"), "i")
               .groupBy("c").agg(F.count(F.lit(1)).alias("d_c"))
               .agg(F.sum(F.col("d_c") * F.col("d_c")).alias("dsq")))
        return (e_intra.crossJoin(dsq).crossJoin(m)
                .select((4 * F.col("m") * F.col("e_in")
                         - F.col("dsq")).alias("qn")))

    # old-partition quality needs NO extra edge join: Σ_{c=ci} l_ic is
    # exactly 2·e_intra, and Σd_c² is already aggregated in d_c
    suml_old = (l_ic.join(own, "i").filter(F.col("c") == F.col("ci"))
                .agg(F.coalesce(F.sum("l"), F.lit(0)).alias("suml")))
    dsq_old = d_c.agg(F.sum(F.col("d_c") * F.col("d_c")).alias("dsq"))
    q_old = (suml_old.crossJoin(dsq_old).crossJoin(m)
             .select((2 * F.col("m") * F.col("suml") - F.col("dsq"))
                     .alias("q_old_num")))
    q_new = _q_num(comm2).select(F.col("qn").alias("q_new_num"))
    stats = comm2.agg(F.count(F.lit(1)).alias("n_nodes"),
                      F.sum("did_move").alias("n_moved"))
    e6 = "cast(floor(1000000.0 * {n} / (4.0 * m * m)) as bigint)"
    return (stats.crossJoin(q_old).crossJoin(q_new).crossJoin(m)
            .select("n_nodes", "n_moved", F.col("m").alias("m_edges"),
                    "q_old_num", "q_new_num",
                    F.expr(e6.format(n="q_old_num")).alias("q_old_e6"),
                    F.expr(e6.format(n="q_new_num")).alias("q_new_e6"),
                    F.expr(e6.format(n="(q_new_num - q_old_num)"))
                    .alias("delta_e6")))


def _materialize_ctes(sql: str, names: tuple) -> str:
    """Force DuckDB to materialize the named CTEs. DuckDB 1.0 inlines
    CTEs by default; with the knn-graph SQL referenced through und →
    dir_ → {deg, d_c, l_ic} → two quality passes, inlining re-expands
    the candidate-generation subtree per reference (measured: >240 s
    vs 13 s at sf0.01). Spark gets the same effect from the tracked
    persists above, so the two engines stay plan-shape-aligned."""
    for name in names:
        sql = sql.replace(f"\n{name} AS (", f"\n{name} AS MATERIALIZED (")
        # the FIRST CTE follows 'WITH ' on the same line, so the
        # newline-anchored replace above misses it (ADVICE r05)
        sql = sql.replace(f"WITH {name} AS (", f"WITH {name} AS MATERIALIZED (")
        if sql.startswith(f"{name} AS ("):
            sql = f"{name} AS MATERIALIZED (" + sql[len(f"{name} AS ("):]
    return sql


def _gain_moves_sql() -> str:
    ctes = _lp_chain_ctes()
    e6 = ("CAST(floor(1000000.0 * {n} / (4.0 * mm.m * mm.m)) AS BIGINT)")
    return _materialize_ctes("WITH " + ",\n".join(ctes) + f""",
und AS (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM edges
),
comm AS (
    SELECT e.vec_id AS node,
           coalesce(CAST(l.lbl AS BIGINT), -1 - e.vec_id) AS c
    FROM embeddings e
    LEFT JOIN l{LP_ROUNDS} l ON l.node = e.vec_id
),
mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
dir_ AS (
    SELECT a AS i, b AS j FROM und
    UNION ALL SELECT b AS i, a AS j FROM und
),
deg AS (SELECT i, CAST(count(*) AS BIGINT) AS k_i FROM dir_ GROUP BY i),
d_c AS (
    SELECT c.c, CAST(count(*) AS BIGINT) AS d_c
    FROM dir_ d JOIN comm c ON c.node = d.i GROUP BY c.c
),
l_ic AS (
    SELECT d.i, c.c, CAST(count(*) AS BIGINT) AS l
    FROM dir_ d JOIN comm c ON c.node = d.j GROUP BY d.i, c.c
),
base AS (
    SELECT li.i, li.c, li.l, o.c AS ci, dg.k_i, dc.d_c, mm.m
    FROM l_ic li
    JOIN comm o ON o.node = li.i
    JOIN deg dg ON dg.i = li.i
    JOIN d_c dc ON dc.c = li.c
    CROSS JOIN mm
),
stay AS (
    SELECT i, 2 * m * l AS l_term FROM base WHERE c = ci
),
stay_full AS (
    SELECT o.node AS i, o.c AS ci, dg.k_i,
           coalesce(s.l_term, 0)
           - (dc.d_c - dg.k_i) * dg.k_i AS g_stay
    FROM comm o
    JOIN deg dg ON dg.i = o.node
    JOIN d_c dc ON dc.c = o.c
    CROSS JOIN mm
    LEFT JOIN stay s ON s.i = o.node
),
best AS (
    SELECT i,
           -(min(struct_pack(ng := -(2 * m * l - d_c * k_i),
                             c := c)).ng) AS g_best,
           min(struct_pack(ng := -(2 * m * l - d_c * k_i),
                           c := c)).c AS c_best
    FROM base WHERE c <> ci GROUP BY i
),
moved AS (
    SELECT sf.i AS node,
           CASE WHEN b.g_best > sf.g_stay THEN b.c_best
                ELSE sf.ci END AS c,
           CAST(coalesce(b.g_best > sf.g_stay, FALSE) AS BIGINT)
               AS did_move
    FROM stay_full sf LEFT JOIN best b ON b.i = sf.i
),
comm2 AS (
    SELECT c.node, coalesce(mv.c, c.c) AS c,
           coalesce(mv.did_move, 0) AS did_move
    FROM comm c LEFT JOIN moved mv ON mv.node = c.node
),
q_old AS (
    SELECT 2 * mm.m * (SELECT CAST(coalesce(sum(li.l), 0) AS BIGINT)
                       FROM l_ic li JOIN comm o ON o.node = li.i
                       WHERE li.c = o.c)
           - (SELECT CAST(sum(d_c * d_c) AS BIGINT) FROM d_c)
           AS q_old_num
    FROM mm
),
d_c2 AS (
    SELECT c.c, CAST(count(*) AS BIGINT) AS d_c
    FROM dir_ d JOIN comm2 c ON c.node = d.i GROUP BY c.c
),
q_new AS (
    SELECT (SELECT 4 * mm.m * count(*) FROM und u
            JOIN comm2 ca ON ca.node = u.a
            JOIN comm2 cb ON cb.node = u.b
            WHERE ca.c = cb.c)
           - (SELECT CAST(sum(d_c * d_c) AS BIGINT) FROM d_c2)
           AS q_new_num
    FROM mm
),
stats AS (
    SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(did_move) AS BIGINT) AS n_moved
    FROM comm2
)
SELECT s.n_nodes, s.n_moved, mm.m AS m_edges,
       qo.q_old_num, qn.q_new_num,
       {e6.format(n='qo.q_old_num')} AS q_old_e6,
       {e6.format(n='qn.q_new_num')} AS q_new_e6,
       {e6.format(n='(qn.q_new_num - qo.q_old_num)')} AS delta_e6
FROM stats s CROSS JOIN q_old qo CROSS JOIN q_new qn CROSS JOIN mm
""", ("edges", "und", "comm", "dir_", "deg", "d_c", "l_ic", "base",
      "stay_full", "best", "moved", "comm2", "d_c2"))


QUERIES["modularity_gain_moves"] = (_modularity_gain_moves,
                                    _gain_moves_sql())


# --------------------------------------------------------------------------
# link_prediction_scores: common-neighbor / Jaccard / resource-allocation
# --------------------------------------------------------------------------

_LP_TOPK = 50


def link_prediction_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the undirected k-NN graph: score every
    distance-2 NON-edge (a, b share >= 1 neighbor, no direct edge) with
    the three classic neighborhood indices — common-neighbor count,
    Jaccard overlap of neighborhoods, and the Resource-Allocation
    index ``RA = sum_z 1/deg(z)`` (Zhou et al. 2009; the degree-
    penalized variant that beats raw CN on hub-heavy graphs) — and
    return the top-50 predicted links. On the embedding k-NN graph
    these are exactly the "semantic near-miss" pairs an LSH-based
    dedup pass missed: high scores are candidate duplicate pairs the
    banding did not collide.

    Determinism: all three scores are exact integers — CN a count,
    Jaccard as ``floor(1e6 * cn / (deg_a + deg_b - cn))``, RA as
    ``sum(floor(1e6 / deg_z))`` with the floor applied per TERM in
    both engines (integer `div`), so no float association anywhere.
    Ties in the top-k break on (a, b).

    Scale: wedge generation is the z-keyed self-join of the directed
    edge list — sum_z deg(z)^2 rows, bounded by (2k)^2 per node on a
    k-NN graph (never quadratic in N). One anti-join removes existing
    edges; one (a, b) aggregate scores candidates map-side. The und
    edge frame feeds five branches, so it is persisted (tracked by
    tables.persist, released by tables.release()).
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = persist(knn_graph(emb, "vec_id", "embedding", k=KNN_K)
                  .select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
                  .distinct())
    dirn = und.unionAll(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b"))) \
              .select(F.col("a").alias("z"), F.col("b").alias("n"))
    deg = dirn.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (dirn.select("z", F.col("n").alias("wa"))
              .join(dirn.select("z", F.col("n").alias("wb")), "z")
              .where(F.col("wa") < F.col("wb")))
    cand = wedges.join(
        und, (wedges.wa == und.a) & (wedges.wb == und.b), "left_anti")
    scored = (cand.join(deg, "z")
              .groupBy(F.col("wa").alias("a"), F.col("wb").alias("b"))
              .agg(F.count(F.lit(1)).alias("cn"),
                   F.sum(F.expr("1000000 div deg")).alias("ra_e6")))
    dega = deg.select(F.col("z").alias("a"), F.col("deg").alias("deg_a"))
    degb = deg.select(F.col("z").alias("b"), F.col("deg").alias("deg_b"))
    return (scored.join(dega, "a").join(degb, "b")
            .select("a", "b", "cn", "deg_a", "deg_b",
                    F.expr("(1000000 * cn) div (deg_a + deg_b - cn)")
                    .alias("jaccard_e6"), "ra_e6")
            .orderBy(F.desc("cn"), F.desc("jaccard_e6"), "a", "b")
            .limit(_LP_TOPK))


def _link_prediction_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
dirn AS MATERIALIZED (
    SELECT a AS z, b AS n FROM und
    UNION ALL SELECT b AS z, a AS n FROM und
),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM dirn GROUP BY z),
wedges AS (
    SELECT x.z, x.n AS wa, y.n AS wb
    FROM dirn x JOIN dirn y ON x.z = y.z AND x.n < y.n
),
cand AS (
    SELECT w.z, w.wa, w.wb
    FROM wedges w ANTI JOIN und u ON u.a = w.wa AND u.b = w.wb
),
scored AS (
    SELECT c.wa AS a, c.wb AS b, CAST(count(*) AS BIGINT) AS cn,
           CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_e6
    FROM cand c JOIN deg d ON c.z = d.z
    GROUP BY 1, 2
)
SELECT s.a, s.b, s.cn, da.deg AS deg_a, db.deg AS deg_b,
       (1000000 * s.cn) // (da.deg + db.deg - s.cn) AS jaccard_e6,
       s.ra_e6
FROM scored s
JOIN deg da ON s.a = da.z
JOIN deg db ON s.b = db.z
ORDER BY s.cn DESC, jaccard_e6 DESC, s.a, s.b
LIMIT {_LP_TOPK}
"""


QUERIES["link_prediction_scores"] = (link_prediction_scores,
                                     _link_prediction_sql())


# --------------------------------------------------------------------------
# textrank_keywords: PageRank over the word co-occurrence graph
# --------------------------------------------------------------------------

TR_ITERS = 2
TR_TOPK = 30


def textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004): corpus-level keyword extraction
    by running PageRank over the word co-occurrence graph — nodes are
    words, edges are ADJACENT word pairs anywhere in the corpus. The
    graph-centrality complement to frequency-based rake_keywords: a
    word ranks high when it co-occurs with many other well-connected
    words, not merely when it is common.

    Same fixed-point discipline as pagerank_fixed_point (rank mass in
    integer tera units, floor(pr/deg) contributions, floored damping
    update; oracle unrolls the rounds as CTEs) — so the scores are
    bit-identical across engines. Word-keyed shuffles ride
    unhex(md5(w)) 16-byte keys (CLAUDE.md), the word string surviving
    via min() within each hash group.

    Scale: bigram edges are built array-side (zip with tail — no
    posexplode), deduped with one gram-keyed aggregate; each round is
    one src-keyed join + one dst-keyed map-side-combinable aggregate
    over the vocabulary-sized edge list. Top-k is a TakeOrdered.
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda x, y: F.when(
            (x != "") & (y != "") & (x != y),
            F.concat(F.least(x, y), F.lit(" "), F.greatest(x, y))))
    e0 = (docs.select(F.explode(grams).alias("g"))
          .where(F.col("g").isNotNull())
          .groupBy(F.unhex(F.md5("g")).alias("gk"))
          .agg(F.min("g").alias("g"))
          .select(F.split("g", " ")[0].alias("wa"),
                  F.split("g", " ")[1].alias("wb")))
    und = (e0.select(F.col("wa").alias("src"), F.col("wb").alias("dst"))
           .unionAll(e0.select(F.col("wb").alias("src"),
                               F.col("wa").alias("dst"))))
    undk = und.select(F.unhex(F.md5("src")).alias("srck"),
                      F.col("src"),
                      F.unhex(F.md5("dst")).alias("dstk"))
    deg = (undk.groupBy("srck")
           .agg(F.count(F.lit(1)).alias("deg"), F.min("src").alias("w")))
    nodes = deg.select(F.col("srck").alias("nodek"), "w", "deg")
    nn = F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n")))
    state = (nodes.crossJoin(nn)
             .select("nodek", "w", "deg",
                     F.floor(F.lit(PR_SCALE) / F.col("n")).cast("long")
                      .alias("pr")))
    for _ in range(TR_ITERS):
        contrib = (undk
                   .join(state.withColumnRenamed("nodek", "srck"), "srck")
                   .select("dstk",
                           F.floor(F.col("pr") / F.col("deg")).cast("long")
                            .alias("contrib"))
                   .groupBy("dstk")
                   .agg(F.sum("contrib").alias("s")))
        state = (nodes.crossJoin(nn)
                 .join(contrib, nodes.nodek == contrib.dstk, "left")
                 .select("nodek", "w", "deg",
                         (F.floor(F.lit(15 * PR_SCALE) / (100 * F.col("n")))
                          .cast("long")
                          + F.floor(F.coalesce("s", F.lit(0)) * 85 / 100)
                             .cast("long")).alias("pr")))
    return (state.select(F.col("w").alias("word"),
                         F.col("deg").cast("long").alias("degree"),
                         F.col("pr").alias("pr_tera"))
            .orderBy(F.desc("pr_tera"), "word")
            .limit(TR_TOPK))


def _textrank_sql() -> str:
    ctes = [r"""t AS (
    SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS toks
    FROM documents
)""", """e0 AS (
    SELECT string_split(min(g), ' ')[1] AS wa,
           string_split(min(g), ' ')[2] AS wb
    FROM (SELECT unnest(list_transform(
              generate_series(1, greatest(len(toks) - 1, 0)),
              i -> CASE WHEN toks[i] <> '' AND toks[i + 1] <> ''
                         AND toks[i] <> toks[i + 1]
                   THEN least(toks[i], toks[i + 1]) || ' '
                        || greatest(toks[i], toks[i + 1]) END)) AS g
          FROM t)
    WHERE g IS NOT NULL
    GROUP BY unhex(md5(g))
)""", """undk AS (
    SELECT unhex(md5(wa)) AS srck, wa AS src, unhex(md5(wb)) AS dstk
    FROM e0
    UNION ALL
    SELECT unhex(md5(wb)) AS srck, wb AS src, unhex(md5(wa)) AS dstk
    FROM e0
)""", """deg AS (
    SELECT srck, CAST(count(*) AS BIGINT) AS deg, min(src) AS w
    FROM undk GROUP BY srck
)""", """nodes AS (SELECT srck AS nodek, w, deg FROM deg)""",
        """nn AS (SELECT count(*) AS n FROM nodes)""",
        f"""p0 AS (
    SELECT nodek, w, deg, CAST(floor({PR_SCALE} / n) AS BIGINT) AS pr
    FROM nodes CROSS JOIN nn
)"""]
    for i in range(TR_ITERS):
        ctes.append(f"""c{i + 1} AS (
    SELECT u.dstk, CAST(sum(CAST(floor(p.pr / p.deg) AS BIGINT)) AS BIGINT)
               AS s
    FROM undk u
    JOIN p{i} p ON u.srck = p.nodek
    GROUP BY u.dstk
)""")
        ctes.append(f"""p{i + 1} AS (
    SELECT nodes.nodek, nodes.w, nodes.deg,
           CAST(floor({15 * PR_SCALE} / (100 * nn.n)) AS BIGINT)
           + CAST(floor(coalesce(c{i + 1}.s, 0) * 85 / 100) AS BIGINT) AS pr
    FROM nodes CROSS JOIN nn
    LEFT JOIN c{i + 1} ON nodes.nodek = c{i + 1}.dstk
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT w AS word, CAST(deg AS BIGINT) AS degree, pr AS pr_tera
FROM p{TR_ITERS}
ORDER BY pr DESC, w ASC
LIMIT {TR_TOPK}
""")


QUERIES["textrank_keywords"] = (textrank_keywords, _textrank_sql())


# --------------------------------------------------------------------------
# graph_robustness_audit: giant-component collapse under hub removal
# --------------------------------------------------------------------------

_ROBUST_HUBS = 10


def graph_robustness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attack-tolerance audit of the k-NN graph (Albert-Barabási hub
    removal): delete the top-10 highest-degree nodes and measure what
    happens to the giant connected component. Scale-free-ish graphs
    shatter under hub removal; for the semantic-dedup pipeline this
    answers "is the near-dup cluster structure held together by a few
    hub documents?" — if yes, removing those hubs first makes cluster
    sizes (and the shuffle skew they cause downstream) collapse.

    Determinism: hubs are an exact (degree DESC, node ASC) top-k;
    components come from min-label propagation (order-independent);
    the collapse ratio is an integer e6 floor.

    Scale: two connected-components runs (each the parquet-staged
    O(log n)-round loop of connected_components) plus one degree
    aggregate — all edge-list-sized shuffles, no all-pairs anything.
    Isolated survivors count as singleton components via the node-set
    anti-join, not by materializing empty adjacency.
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = persist(knn_graph(emb, "vec_id", "embedding", k=KNN_K)
                  .select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
                  .distinct())
    dirn = und.unionAll(und.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
    deg = dirn.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    hubs = (deg.orderBy(F.desc("deg"), "a").limit(_ROBUST_HUBS)
            .select(F.col("a").alias("hub")))
    nodes = deg.select(F.col("a").alias("node"))

    def _giant(edges: DataFrame, node_set: DataFrame) -> DataFrame:
        comp = connected_components(
            edges.select(F.col("a").alias("src"), F.col("b").alias("dst")))
        # isolated nodes (no surviving edge) are their own component
        solo = (node_set.join(comp, "node", "left_anti")
                .select("node", F.col("node").alias("cluster_id")))
        sizes = (comp.unionByName(solo).groupBy("cluster_id")
                 .agg(F.count(F.lit(1)).alias("sz")))
        return sizes.agg(F.max("sz").alias("giant"),
                         F.count(F.lit(1)).alias("n_comp"))

    before = _giant(und, nodes)
    cut = (und.join(hubs, und.a == hubs.hub, "left_anti")
           .join(hubs, und.b == hubs.hub, "left_anti"))
    survivors = nodes.join(hubs, nodes.node == hubs.hub, "left_anti")
    after = _giant(cut, survivors)
    stats = F.broadcast(
        und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
            nodes.agg(F.count(F.lit(1)).alias("n_nodes"))))
    return (stats
            .crossJoin(before.select(F.col("giant").alias("giant_before"),
                                     F.col("n_comp").alias("n_comp_before")))
            .crossJoin(after.select(F.col("giant").alias("giant_after"),
                                    F.col("n_comp").alias("n_comp_after")))
            .select("n_nodes", "n_edges", "giant_before", "n_comp_before",
                    F.lit(_ROBUST_HUBS).cast("long").alias("n_hubs_removed"),
                    "giant_after", "n_comp_after",
                    F.expr("(giant_before - giant_after) * 1000000"
                           " div giant_before").alias("collapse_e6")))


def _robustness_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH RECURSIVE und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
dirn AS (SELECT a, b FROM und UNION ALL SELECT b AS a, a AS b FROM und),
deg AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM dirn GROUP BY a),
hubs AS (SELECT a AS hub FROM deg ORDER BY deg DESC, a ASC
         LIMIT {_ROBUST_HUBS}),
nodes AS (SELECT a AS node FROM deg),
reach_b(node, r) AS (
    SELECT node, node FROM nodes
    UNION
    SELECT reach_b.node, dirn.b FROM reach_b JOIN dirn
        ON dirn.a = reach_b.r
),
comp_b AS (SELECT node, min(r) AS cid FROM reach_b GROUP BY node),
sz_b AS (SELECT cid, count(*) AS sz FROM comp_b GROUP BY cid),
before_s AS (SELECT CAST(max(sz) AS BIGINT) AS giant_before,
                    CAST(count(*) AS BIGINT) AS n_comp_before FROM sz_b),
cut AS (
    SELECT a, b FROM und
    WHERE a NOT IN (SELECT hub FROM hubs)
      AND b NOT IN (SELECT hub FROM hubs)
),
dirn_a AS (SELECT a, b FROM cut UNION ALL SELECT b AS a, a AS b FROM cut),
survivors AS (SELECT node FROM nodes
              WHERE node NOT IN (SELECT hub FROM hubs)),
reach_a(node, r) AS (
    SELECT node, node FROM survivors
    UNION
    SELECT reach_a.node, dirn_a.b FROM reach_a JOIN dirn_a
        ON dirn_a.a = reach_a.r
),
comp_a AS (SELECT node, min(r) AS cid FROM reach_a GROUP BY node),
sz_a AS (SELECT cid, count(*) AS sz FROM comp_a GROUP BY cid),
after_s AS (SELECT CAST(max(sz) AS BIGINT) AS giant_after,
                   CAST(count(*) AS BIGINT) AS n_comp_after FROM sz_a),
stats AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
                 (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges)
SELECT s.n_nodes, s.n_edges, b.giant_before, b.n_comp_before,
       CAST({_ROBUST_HUBS} AS BIGINT) AS n_hubs_removed,
       a.giant_after, a.n_comp_after,
       (b.giant_before - a.giant_after) * 1000000 // b.giant_before
           AS collapse_e6
FROM stats s CROSS JOIN before_s b CROSS JOIN after_s a
"""


QUERIES["graph_robustness_audit"] = (graph_robustness_audit,
                                     _robustness_sql())


# --------------------------------------------------------------------------
# link_prediction_eval: held-out edge recovery (precision@K of CN scores)
# --------------------------------------------------------------------------

_LPE_K = 100


def link_prediction_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction EVAL: hold out a deterministic ~1/16 of the kNN
    graph's edges (md5 nibble gate — no RNG), score the remaining
    graph's distance-2 non-edges by common-neighbor count, and measure
    how many held-out edges land in the global top-100 predictions —
    the standard "can the index rebuild its own deleted edges"
    validation that turns link_prediction_scores from a ranking into a
    measured capability (the recall-eval pattern of ann_recall_eval).

    Determinism: the holdout gate is a pure md5 predicate; scores and
    the top-K cut are exact integers with (cn, jaccard, a, b)
    tie-break; precision/coverage are e6 floors.

    Scale: identical wedge shape to link_prediction_scores (Σ deg²
    bounded per node by 2k); the top-K is a TakeOrdered, the hit join
    is K rows against the holdout. The und frame feeds many branches →
    persisted (tables.persist).
    """
    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    emb = load(spark, sf_dir, "embeddings")
    und = persist(knn_graph(emb, "vec_id", "embedding", k=KNN_K)
                  .select(F.least("src", "dst").alias("a"),
                          F.greatest("src", "dst").alias("b"))
                  .distinct())
    gate = F.substring(F.md5(F.concat_ws(":", F.lit("lp"), "a", "b")), 1, 1)
    held = persist(und.where(gate == "0"))
    train = und.where(gate != "0")
    dirn = train.unionAll(train.select(F.col("b").alias("a"),
                                       F.col("a").alias("b"))) \
                .select(F.col("a").alias("z"), F.col("b").alias("n"))
    deg = dirn.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    wedges = (dirn.select("z", F.col("n").alias("wa"))
              .join(dirn.select("z", F.col("n").alias("wb")), "z")
              .where(F.col("wa") < F.col("wb")))
    cand = wedges.join(
        train, (wedges.wa == train.a) & (wedges.wb == train.b),
        "left_anti")
    scored = (cand.groupBy(F.col("wa").alias("a"), F.col("wb").alias("b"))
              .agg(F.count(F.lit(1)).alias("cn")))
    dega = deg.select(F.col("z").alias("a"), F.col("deg").alias("deg_a"))
    degb = deg.select(F.col("z").alias("b"), F.col("deg").alias("deg_b"))
    topk = persist(scored.join(dega, "a").join(degb, "b")
                   .select("a", "b", "cn",
                           F.expr("(1000000 * cn) div (deg_a + deg_b - cn)")
                           .alias("jac"))
                   .orderBy(F.desc("cn"), F.desc("jac"), "a", "b")
                   .limit(_LPE_K))
    hits = topk.join(held, ["a", "b"]).agg(
        F.count(F.lit(1)).alias("hits"))
    covered = (held.join(scored, ["a", "b"])
               .agg(F.count(F.lit(1)).alias("n_scored_holdout")))
    counts = F.broadcast(
        und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
            held.agg(F.count(F.lit(1)).alias("n_heldout"))))
    return (counts.crossJoin(hits).crossJoin(covered)
            .select("n_edges", "n_heldout", "n_scored_holdout",
                    F.col("hits").alias("hits_at_k"),
                    F.lit(_LPE_K).cast("long").alias("k"),
                    F.expr(f"hits * 1000000 div {_LPE_K}")
                    .alias("precision_e6"),
                    F.expr("CASE WHEN n_heldout = 0 THEN 0 ELSE"
                           " n_scored_holdout * 1000000 div n_heldout END")
                    .alias("coverage_e6")))


def _lp_eval_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    return f"""
WITH und AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
),
held AS MATERIALIZED (
    SELECT a, b FROM und
    WHERE substr(md5('lp' || ':' || a || ':' || b), 1, 1) = '0'
),
train AS MATERIALIZED (
    SELECT a, b FROM und
    WHERE substr(md5('lp' || ':' || a || ':' || b), 1, 1) <> '0'
),
dirn AS (
    SELECT a AS z, b AS n FROM train
    UNION ALL SELECT b AS z, a AS n FROM train
),
deg AS (SELECT z, CAST(count(*) AS BIGINT) AS deg FROM dirn GROUP BY z),
wedges AS (
    SELECT x.z, x.n AS wa, y.n AS wb
    FROM dirn x JOIN dirn y ON x.z = y.z AND x.n < y.n
),
cand AS (
    SELECT w.wa, w.wb
    FROM wedges w ANTI JOIN train t ON t.a = w.wa AND t.b = w.wb
),
scored AS MATERIALIZED (
    SELECT wa AS a, wb AS b, CAST(count(*) AS BIGINT) AS cn
    FROM cand GROUP BY 1, 2
),
topk AS MATERIALIZED (
    SELECT s.a, s.b, s.cn,
           (1000000 * s.cn) // (da.deg + db.deg - s.cn) AS jac
    FROM scored s
    JOIN deg da ON s.a = da.z
    JOIN deg db ON s.b = db.z
    ORDER BY s.cn DESC, jac DESC, s.a, s.b
    LIMIT {_LPE_K}
),
hits AS (SELECT CAST(count(*) AS BIGINT) AS hits
         FROM topk t JOIN held h ON t.a = h.a AND t.b = h.b),
covered AS (SELECT CAST(count(*) AS BIGINT) AS n_scored_holdout
            FROM held h JOIN scored s ON s.a = h.a AND s.b = h.b),
counts AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
                  (SELECT CAST(count(*) AS BIGINT) FROM held)
                      AS n_heldout)
SELECT c.n_edges, c.n_heldout, cov.n_scored_holdout,
       h.hits AS hits_at_k, CAST({_LPE_K} AS BIGINT) AS k,
       h.hits * 1000000 // {_LPE_K} AS precision_e6,
       CASE WHEN c.n_heldout = 0 THEN 0
            ELSE cov.n_scored_holdout * 1000000 // c.n_heldout END
           AS coverage_e6
FROM counts c CROSS JOIN hits h CROSS JOIN covered cov
"""


QUERIES["link_prediction_eval"] = (link_prediction_eval, _lp_eval_sql())


# --------------------------------------------------------------------------
# closeness_centrality_sampled: multi-source BFS closeness from seed panel
# --------------------------------------------------------------------------

_CLOSE_SEEDS = 4
_CLOSE_ROUNDS = 3


def closeness_centrality_sampled(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Sampled closeness + harmonic centrality over the
    customer↔supplier graph: BFS from a panel of seeds (the 4 smallest
    customer ids — derived, not hard-coded) run as ONE multi-source
    traversal with (seed, node) frontier keys, then per-seed
    ``closeness = (reached-1)/Σdist`` and ``harmonic = Σ 1/dist``.
    Sampling seeds is how closeness is actually estimated at scale
    (exact closeness needs all-pairs); the panel shape is the same
    plan as one BFS — the seed id just rides the key.

    Determinism: distances are exact BFS levels; harmonic is a sum of
    per-term integer floors ``1e6 div dist``; closeness an e6 floor.

    Scale: identical Pregel-superstep shape to bfs_levels (edge ⋈
    frontier per round + anti-join vs visited, everything keyed
    (seed, node), persisted and released per round); S seeds multiply
    the frontier, not the edge list. The oracle bounds its recursive
    expansion at the same round count.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = persist(e0o.select(F.col("c").alias("src"),
                             (F.col("s") + F.col("_off")).alias("dst"))
                  .unionByName(e0o.select((F.col("s") + F.col("_off"))
                                          .alias("src"),
                                          F.col("c").alias("dst"))))
    seeds = (e0.select(F.col("c").alias("seed")).distinct()
             .orderBy("seed").limit(_CLOSE_SEEDS))
    frontier = seeds.select("seed", F.col("seed").alias("n"))
    visited = frontier
    out = frontier.select("seed", "n", F.lit(0).alias("dist"))
    for lvl in range(1, _CLOSE_ROUNDS + 1):
        nxt = persist(und.join(frontier.withColumnRenamed("n", "src"), "src")
                      .select("seed", F.col("dst").alias("n")).distinct()
                      .join(visited, ["seed", "n"], "left_anti"))
        out = out.unionByName(nxt.select("seed", "n",
                                         F.lit(lvl).alias("dist")))
        visited = persist(visited.unionByName(nxt))
        frontier = nxt
    return (out.where(F.col("dist") > 0)
            .groupBy("seed")
            .agg(F.count(F.lit(1)).alias("n_reached"),
                 F.sum("dist").alias("sum_dist"),
                 F.sum(F.expr("1000000 div dist")).alias("harmonic_e6"))
            .select("seed", "n_reached", "sum_dist", "harmonic_e6",
                    F.expr("n_reached * 1000000 div sum_dist")
                    .alias("closeness_e6")))


def _closeness_sql() -> str:
    return f"""
WITH RECURSIVE e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
off AS (SELECT max(c) + 1 AS o FROM e0),
und AS (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
),
seeds AS (SELECT DISTINCT c AS seed FROM e0 ORDER BY seed
          LIMIT {_CLOSE_SEEDS}),
reach(seed, n, dist) AS (
    SELECT seed, seed AS n, 0 AS dist FROM seeds
    UNION
    SELECT r.seed, u.dst AS n, r.dist + 1 AS dist
    FROM reach r JOIN und u ON u.src = r.n
    WHERE r.dist < {_CLOSE_ROUNDS}
),
mind AS (
    SELECT seed, n, CAST(min(dist) AS BIGINT) AS dist
    FROM reach GROUP BY seed, n
)
SELECT seed, CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum(dist) AS BIGINT) AS sum_dist,
       CAST(sum(1000000 // dist) AS BIGINT) AS harmonic_e6,
       CAST(count(*) AS BIGINT) * 1000000 // CAST(sum(dist) AS BIGINT)
           AS closeness_e6
FROM mind WHERE dist > 0
GROUP BY seed
"""


QUERIES["closeness_centrality_sampled"] = (closeness_centrality_sampled,
                                           _closeness_sql())


# --------------------------------------------------------------------------
# k-truss pruning over the k-NN graph (triangle-support density filter)
# --------------------------------------------------------------------------
KTRUSS_K = 4          # each surviving edge must close >= K-2 triangles
KTRUSS_ROUNDS = 2


def triangle_support(e: DataFrame) -> DataFrame:
    """Exact per-edge triangle support of an undirected edge set
    ``(a, b)`` with ``a < b``: for each edge, the number of common
    neighbors of its endpoints. Edges closing no triangle are absent
    from the output (join back with coalesce-0).

    Scale: the standard distributed wedge join — edges ⋈ adjacency on
    endpoint ``a`` builds the wedge frame (size Σ deg(a) per edge),
    closed against the adjacency by a hash semi-join on (b, w). All
    joins hash-keyed on node ids; no global sort, no cross join.
    """
    adj = e.select(F.col("a").alias("u"), F.col("b").alias("v")) \
        .unionAll(e.select(F.col("b").alias("u"),
                           F.col("a").alias("v")))
    wedges = (e.join(adj.withColumnRenamed("u", "a")
                     .withColumnRenamed("v", "w"), "a")
              .where(F.col("w") != F.col("b")))
    closed = wedges.join(
        adj.select(F.col("u").alias("b"), F.col("v").alias("w")),
        ["b", "w"], "left_semi")
    return closed.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("support"))


def ktruss_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss pruning over the undirected k-NN graph: repeatedly drop
    edges supported by fewer than ``KTRUSS_K − 2`` triangles
    (``KTRUSS_ROUNDS`` unrolled rounds), then report the surviving
    truss's support histogram. The edge-level density filter one notch
    stricter than k-core (node degrees can be faked by hub spokes;
    triangle support cannot) — the community-core detector of the
    iterative graph family.

    Determinism: supports are exact triangle counts; pruning is a pure
    threshold; the histogram is count-keyed.

    Scale: per round, triangle support is the standard distributed
    wedge join — edges ⋈ adjacency on endpoint a, then the (b, w)
    wedge closes against the adjacency (both joins hash-keyed on node
    ids; the heavy frame is wedge-count-sized, bounded by Σ deg(a)
    per edge). Each round's edge frame is STAGED TO PARQUET and read
    back (the connected_components cut): support references the frame
    4× per round, and without severing the plan Catalyst re-analysis
    of the self-referential lineage dominates wall-clock (measured
    36 s planning vs 2 s execution on 300 cached rows at sf0.01 —
    persist alone does not truncate the logical plan).
    """
    import shutil
    import uuid
    from functools import partial
    from urllib.parse import urlparse

    from .similarity import knn_graph
    from .similarity_queries import KNN_K

    base = spark.conf.get("spark.sql.warehouse.dir")
    workdir = f"{base.rstrip('/')}/_ktruss_rounds/{uuid.uuid4().hex}"
    local_dir = urlparse(workdir).path if workdir.startswith("file:") \
        else (None if "://" in workdir else workdir)

    def cut(df, name):
        path = f"{workdir}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    try:
        emb = load(spark, sf_dir, "embeddings")
        edges = cut(
            knn_graph(emb, "vec_id", "embedding", k=KNN_K)
            .select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
            .distinct(), "e0")

        for i in range(KTRUSS_ROUNDS):
            sup = triangle_support(edges)
            edges = cut(
                edges.join(sup, ["a", "b"], "left")
                .where(F.coalesce("support", F.lit(0)) >= KTRUSS_K - 2)
                .select("a", "b"), f"e{i + 1}")
        final = triangle_support(edges)
        kept = (edges.join(final, ["a", "b"], "left")
                .select("a", "b",
                        F.coalesce("support", F.lit(0)).alias("support")))
        out = (kept.groupBy("support")
               .agg(F.count(F.lit(1)).alias("n_edges"))
               .select(F.col("support").cast("long").alias("support"),
                       F.col("n_edges").cast("long").alias("n_edges")))
    except BaseException:
        # failed runs must not accumulate staged round files under the
        # warehouse dir (the connected_components guarantee)
        if local_dir is not None:
            shutil.rmtree(local_dir, ignore_errors=True)
        raise
    # Return the DISTRIBUTED plan (rooted at the last staged edge
    # frame) instead of eagerly collecting — plan audits and bench see
    # the real pipeline, not a LocalTableScan (ADVICE r7). Intermediate
    # rounds drop now; the final round's files are removed later by
    # tables.release() (after the caller has consumed the frame).
    if local_dir is not None:
        for i in range(KTRUSS_ROUNDS):
            shutil.rmtree(f"{local_dir}/e{i}", ignore_errors=True)
        on_release(partial(shutil.rmtree, local_dir, ignore_errors=True))
    return out


def _ktruss_sql() -> str:
    from .similarity_queries import _KNN_GRAPH_SQL

    def sup(e):
        return f"""(
    SELECT w.a, w.b, count(*) AS support
    FROM (
        SELECT e.a, e.b, adj.v AS w
        FROM {e} e
        JOIN (SELECT a AS u, b AS v FROM {e}
              UNION ALL SELECT b AS u, a AS v FROM {e}) adj
          ON adj.u = e.a
        WHERE adj.v <> e.b
    ) w
    WHERE EXISTS (
        SELECT 1 FROM (SELECT a AS u, b AS v FROM {e}
                       UNION ALL SELECT b AS u, a AS v FROM {e}) adj2
        WHERE adj2.u = w.b AND adj2.v = w.w)
    GROUP BY w.a, w.b
)"""
    ctes = [f"""e0 AS MATERIALIZED (
    SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
    FROM ({_KNN_GRAPH_SQL})
)"""]
    for i in range(KTRUSS_ROUNDS):
        ctes.append(f"s{i} AS MATERIALIZED {sup(f'e{i}')}")
        ctes.append(f"""e{i + 1} AS MATERIALIZED (
    SELECT e.a, e.b FROM e{i} e
    LEFT JOIN s{i} s ON s.a = e.a AND s.b = e.b
    WHERE coalesce(s.support, 0) >= {KTRUSS_K - 2}
)""")
    last = f"e{KTRUSS_ROUNDS}"
    ctes.append(f"sf AS MATERIALIZED {sup(last)}")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(coalesce(s.support, 0) AS BIGINT) AS support,
       CAST(count(*) AS BIGINT) AS n_edges
FROM {last} e
LEFT JOIN sf s ON s.a = e.a AND s.b = e.b
GROUP BY 1
""")


QUERIES["ktruss_prune"] = (ktruss_prune, _ktruss_sql())


# --------------------------------------------------------------------------
# Graph diameter lower bound via the double BFS sweep
# --------------------------------------------------------------------------
DIAM_ROUNDS = 4   # > the bipartite graph's saturation depth (bfs_levels: 3)


def graph_diameter_double_sweep(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Diameter lower bound by the classic double sweep: BFS from an
    arbitrary node (min customer), hop to the FARTHEST node found
    (max level, min id tie-break), BFS again — the second
    eccentricity is the standard cheap diameter estimate (exact on
    trees, a tight lower bound in practice) used to size iteration
    counts for label propagation / pregel jobs before launching them.

    Both sweeps are the ``bfs_levels`` frontier/anti-join superstep
    chain, bounded at {DIAM_ROUNDS} rounds; the hop between sweeps is
    a ≤(rounds+1)-row collect of the per-level summary (driver-paced,
    sanctioned). The oracle unrolls the same two sweeps with the
    peripheral node as a scalar-subquery CTE.

    Scale: 2 × rounds keyed edge⋈frontier joins with persisted
    frontiers (tracked) — exactly two BFS passes at any graph size.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (li.join(orders, li.l_orderkey == orders.o_orderkey)
          .select(F.col("o_custkey").alias("c"),
                  F.col("l_suppkey").alias("s"))
          .distinct())
    off = F.broadcast(e0.agg((F.max("c") + F.lit(1)).alias("_off")))
    e0o = e0.crossJoin(off)
    und = persist(
        e0o.select(F.col("c").alias("src"),
                   (F.col("s") + F.col("_off")).alias("dst"))
        .unionByName(e0o.select((F.col("s") + F.col("_off")).alias("src"),
                                F.col("c").alias("dst"))))

    def sweep(frontier):
        visited = frontier
        out = frontier.select(F.lit(0).alias("level"), "n")
        for lvl in range(1, DIAM_ROUNDS + 1):
            nxt = persist(
                und.join(frontier.withColumnRenamed("n", "src"), "src")
                .select(F.col("dst").alias("n")).distinct()
                .join(visited, "n", "left_anti"))
            out = out.unionByName(nxt.select(F.lit(lvl).alias("level"), "n"))
            visited = persist(visited.unionByName(nxt))
            frontier = nxt
        return (out.groupBy("level")
                .agg(F.count(F.lit(1)).alias("cnt"), F.min("n").alias("mn"))
                .collect())   # <= rounds+1 rows (driver-paced hop)

    lv1 = {r["level"]: r for r in sweep(e0.agg(F.min("c").alias("n")))}
    ecc1 = max(lv for lv, r in lv1.items() if r["cnt"] > 0)
    far = int(lv1[ecc1]["mn"])
    n1 = sum(r["cnt"] for r in lv1.values())
    lv2 = {r["level"]: r for r in
           sweep(und.select(F.lit(far).alias("n")).limit(1))}
    ecc2 = max(lv for lv, r in lv2.items() if r["cnt"] > 0)
    n2 = sum(r["cnt"] for r in lv2.values())
    start = int(lv1[0]["mn"])
    return spark.createDataFrame(
        [(start, ecc1, n1, far, ecc2, n2)],
        "start_node long, ecc1 int, n_reached1 long,"
        " far_node long, diameter_lb int, n_reached2 long")


def _diam_sql() -> str:
    def sweep_ctes(tag: str, f0: str) -> list[str]:
        ctes = [f"f{tag}0 AS ({f0})",
                f"v{tag}0 AS (SELECT n FROM f{tag}0)"]
        for lvl in range(1, DIAM_ROUNDS + 1):
            ctes.append(f"""f{tag}{lvl} AS MATERIALIZED (
    SELECT DISTINCT dst AS n FROM und
    JOIN f{tag}{lvl - 1} ON und.src = f{tag}{lvl - 1}.n
    WHERE dst NOT IN (SELECT n FROM v{tag}{lvl - 1})
)""")
            ctes.append(f"""v{tag}{lvl} AS MATERIALIZED (
    SELECT n FROM v{tag}{lvl - 1} UNION ALL SELECT n FROM f{tag}{lvl}
)""")
        lv = " UNION ALL ".join(
            f"SELECT {lvl} AS level, n FROM f{tag}{lvl}"
            for lvl in range(DIAM_ROUNDS + 1))
        ctes.append(f"""lv{tag} AS (
    SELECT level, count(*) AS cnt, min(n) AS mn FROM ({lv}) GROUP BY 1
)""")
        return ctes

    ctes = ["""e0 AS (
    SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)""", "off AS (SELECT max(c) + 1 AS o FROM e0)",
        """und AS MATERIALIZED (
    SELECT c AS src, s + off.o AS dst FROM e0 CROSS JOIN off
    UNION ALL
    SELECT s + off.o AS src, c AS dst FROM e0 CROSS JOIN off
)"""]
    ctes += sweep_ctes("a", "SELECT min(c) AS n FROM e0")
    ctes.append("""ecc1 AS (
    SELECT max(level) AS e FROM lva WHERE cnt > 0
)""")
    ctes.append("""far AS (
    SELECT l.mn AS n FROM lva l, ecc1 WHERE l.level = ecc1.e
)""")
    ctes += sweep_ctes("b", "SELECT n FROM far")
    return ("WITH " + ",\n".join(ctes) + """
SELECT (SELECT mn FROM lva WHERE level = 0) AS start_node,
       CAST((SELECT e FROM ecc1) AS INT) AS ecc1,
       (SELECT sum(cnt) FROM lva)::BIGINT AS n_reached1,
       (SELECT n FROM far) AS far_node,
       CAST((SELECT max(level) FROM lvb WHERE cnt > 0) AS INT)
           AS diameter_lb,
       (SELECT sum(cnt) FROM lvb)::BIGINT AS n_reached2
""")


QUERIES["graph_diameter_double_sweep"] = (graph_diameter_double_sweep,
                                          _diam_sql())
