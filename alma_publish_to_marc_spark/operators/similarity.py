"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. Cross join of Q queries ×
  N candidates — at 100 TB this broadcasts the (small) query set so the
  candidate scan stays shuffle-free and embarrassingly parallel.
- random-hyperplane LSH buckets: the scale path. Each vector gets a
  b-bit signature (sign of projection onto b fixed hyperplanes);
  candidates are compared only within a query's bucket, cutting the
  pairwise work by ~2^b at the cost of recall.

Determinism: dot products are explicit left folds from 0.0 (same
summation order as the DuckDB oracle's list_reduce), hyperplanes are
fixed literal constants — results are bit-reproducible cross-engine.
All math is JVM-side Column expressions; no UDFs.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tables import persist

N_PLANES = 8
DIM = 64
_rng = random.Random(7)


def _mk_planes(n: int) -> list[list[float]]:
    return [[round(_rng.uniform(-1, 1), 6) for _ in range(DIM)]
            for _ in range(n)]


# fixed literal hyperplanes, 6-decimal uniforms (exact as doubles in both
# engines' literal parsers); regenerate only in lockstep with the oracle
HYPERPLANES: list[list[float]] = _mk_planes(N_PLANES)

# OR-amplification bands for near-dup mining: each band is an independent
# 8-plane table; band 0 reuses HYPERPLANES (same RNG stream) so the
# single-table ANN queries are unchanged.
N_BANDS = 4
BAND_PLANES: list[list[list[float]]] = [HYPERPLANES] + [
    _mk_planes(N_PLANES) for _ in range(N_BANDS - 1)
]


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product (matches oracle fold order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return F.round(dot(a, b) / (norm(a) * norm(b)), 6)


def _lsh_bucket_sql(vec_sql: str,
                    planes: list[list[float]] | None = None) -> str:
    """b-bit signature as ONE Spark-SQL expression string. Building the
    same tree through the Python column API is ~600 py4j round trips
    per band (8 planes x 64 F.lit literals + fold lambdas) — several
    seconds of pure driver time per multi-band caller (measured r11:
    6.8 s to CONSTRUCT knn_graph's 4-band sigs frame vs 2.9 s to run
    it). `repr(double)D` literals parse to bit-identical doubles."""
    terms = ["CAST(0 AS BIGINT)"]
    for j, plane in enumerate(planes if planes is not None else HYPERPLANES):
        h = "array(" + ", ".join(f"{float(v)!r}D" for v in plane) + ")"
        d = (f"aggregate(zip_with({vec_sql}, {h}, (x, y) -> x * y), "
             f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)")
        terms.append(f"CASE WHEN {d} >= 0 THEN {2 ** j}L ELSE 0L END")
    return "(" + " + ".join(terms) + ")"


def lsh_bucket(vec: str, planes: list[list[float]] | None = None) -> Column:
    """b-bit signature: bit j = [vec · H_j >= 0]. ``vec`` is the column
    name (or SQL fragment) of the array<double> vector — a string, so
    the whole signature is one F.expr parse (see _lsh_bucket_sql)."""
    return F.expr(_lsh_bucket_sql(vec, planes))


def brute_force_topk(emb: DataFrame, id_col: str, vec_col: str,
                     query_ids: list[int], k: int = 10) -> DataFrame:
    """Exact top-k neighbors for each query id. The query set is tiny →
    broadcast; ranking is one window shuffle over (qid)."""
    # norms precompute ONCE per vector below the join (r11, guide §1.2
    # per-task work): cosine() would re-run the interpreted norm folds
    # for BOTH sides on every (query, candidate) pair — 3 O(dim) folds
    # per pair instead of 1. round(dot/(nq·nv), 6) is bit-identical to
    # cosine() (same fold expressions, same doubles).
    e = (emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
         .withColumn("nv", norm(F.col("v"))))
    q = (e.where(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"),
                 F.col("nv").alias("nq")))
    pairs = (e.join(F.broadcast(q), F.col(id_col) != F.col("qid"))
             .withColumn("cosine",
                         F.round(dot(F.col("qv"), F.col("v"))
                                 / (F.col("nq") * F.col("nv")), 6)))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", F.col(id_col).alias("neighbor_id"), "cosine", "rank"))


PROBE_RADIUS = 2


def probe_masks(n_planes: int = N_PLANES,
                radius: int | None = None) -> list[int]:
    """XOR masks for the Hamming ball of the given radius (default:
    module-level PROBE_RADIUS, read at call time): the probe set of
    multi-probe LSH (the query's own bucket plus every bucket whose
    signature differs in ≤ radius bits)."""
    if radius is None:
        radius = PROBE_RADIUS
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [(1 << i) | (1 << j)
                  for i in range(n_planes) for j in range(i + 1, n_planes)]
    return masks


def lsh_topk(emb: DataFrame, id_col: str, vec_col: str,
             query_ids: list[int], k: int = 10) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN: candidates are vectors whose
    b-bit signature lies within Hamming distance ``PROBE_RADIUS`` of
    the query's signature (the query side explodes its probe-bucket
    list; candidates still hash once and join on one equi key).

    Cost/recall: scan fraction ≈ |ball| / 2^b = (1 + b + C(b,2)) / 2^b
    (37/256 ≈ 14% at b=8, r=2); measured recall vs exact on the
    uniform-random test vectors is ~0.36 vs 0.0 for the radius-0
    single-bucket probe (see ``ann_recall_eval``) — uniform vectors are
    LSH's worst case, clustered real embeddings sit much higher. At
    scale, size b ≈ log₂(N / target_bucket) to pin bucket occupancy,
    then tune the radius to buy recall: each probe costs one bucket
    (~constant rows), so cost is explicit and the candidate join stays
    a broadcast of |queries| × |ball| probe rows — the corpus never
    reshuffles."""
    # nv precomputed once per vector — see brute_force_topk (the
    # candidate join would otherwise re-fold both norms per pair)
    e = (emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
         .withColumn("nv", norm(F.col("v")))
         .withColumn("bucket", lsh_bucket("v")))
    q = (e.where(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"),
                 F.col("nv").alias("nq"),
                 F.explode(F.array(*[
                     F.col("bucket").bitwiseXOR(F.lit(m)).cast("long")
                     for m in probe_masks()])).alias("bucket")))
    pairs = (e.join(F.broadcast(q), "bucket")
             .where(F.col(id_col) != F.col("qid"))
             .withColumn("cosine",
                         F.round(dot(F.col("qv"), F.col("v"))
                                 / (F.col("nq") * F.col("nv")), 6)))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", F.col(id_col).alias("neighbor_id"), "cosine", "rank"))


def _cell_scored_sql(centroids: DataFrame) -> str:
    """array<struct<negcs, cent_id>> of per-centroid cosine scores as
    ONE Spark-SQL expression over the input row's ``v``/``nv`` columns,
    with centroid vectors inlined as literals. Shared by ivf_topk and
    semantic_dedup (r11, guide §2.4): the cell argmax becomes per-row
    scan compute instead of a broadcast join + row_number window that
    shuffled |cents|·N scored rows with their vector payloads.

    Equivalence to the former window: cs stays the identical
    round(dot/(nv·ncv), 6) expression; argmin of struct(-cs, cent_id)
    == row_number ORDER BY cs DESC, cent_id ASC under Spark's total
    order (negation strictly reverses double ordering, incl. the ±0.0
    pair; struct and sort comparators are the same SQLOrderingUtil);
    array_sort + slice 1..nprobe == crank <= nprobe likewise. ncv is
    computed in Python with the same left fold + sqrt the old norm()
    column ran — identical IEEE ops in identical order. The collect is
    the driver-paced tiny-state idiom: centroid frames are k rows by
    construction (seeds, or trained quantizers already driver-held)."""
    import math

    crows = sorted((int(r["cent_id"]), [float(x) for x in r["cv"]])
                   for r in centroids.select("cent_id", "cv").collect())

    def ncv(cv: list[float]) -> float:
        acc = 0.0
        for x in cv:
            acc += x * x
        return math.sqrt(acc)

    return "array(" + ", ".join(
        "named_struct('negcs', -round(aggregate(zip_with(v, array("
        + ", ".join(f"{x!r}D" for x in cv)
        + "), (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        f" / (nv * {ncv(cv)!r}D), 6), 'cent_id', {cid}L)"
        for cid, cv in crows) + ")"


def ivf_topk(emb: DataFrame, id_col: str, vec_col: str,
             query_ids: list[int], centroid_ids: list[int] | None = None,
             k: int = 10, nprobe: int = 2,
             centroids: DataFrame | None = None) -> DataFrame:
    """IVF-style ANN, the coarse-quantizer scale path: vectors are
    assigned to their nearest centroid cell (one pass over the data —
    centroids broadcast), a query probes only its ``nprobe`` nearest
    cells, and exact ranking runs inside those cells. Search cost drops
    from N to ~N·nprobe/n_cells per query; at 100 TB the cell id also
    becomes the partition key, so one probe touches few partitions.

    The quantizer is either the embeddings of fixed ``centroid_ids``
    (deterministic seed quantizer) or a trained ``centroids`` frame
    (cent_id, cv) — e.g. :func:`clustering.refined_centroids`, the
    k-means refinement of those same seeds. Measured on the sf0.01
    uniform-random test vectors (``ann_recall_eval``), 2 Lloyd rounds
    lift mean recall@10 from 0.30 (seed cells) to 0.40 (refined cells)
    at the same nprobe=2 — see tests/test_similarity_recall.py."""
    # Scan-fused literal-centroid assignment — see _cell_scored_sql for
    # the shape and the bit-equivalence argument (guide §2.4): zero
    # exchanges until the bounded cell-probe join.
    e = (emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
         .withColumn("nv", norm(F.col("v"))))
    if centroids is None:
        if not centroid_ids:
            # isin(None/[]) matches nothing -> every query would return
            # zero neighbors with no error; fail loudly instead
            raise ValueError("ivf_topk needs centroid_ids or centroids")
        centroids = (e.where(F.col(id_col).isin(centroid_ids))
                     .select(F.col(id_col).alias("cent_id"),
                             F.col("v").alias("cv")))
    scored_sql = _cell_scored_sql(centroids)
    cells = e.select(
        id_col, "v", "nv",
        F.expr(f"array_min({scored_sql}).cent_id").alias("cell"))
    probes = (e.where(F.col(id_col).isin(query_ids))
              .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"),
                      F.col("nv").alias("nq"),
                      F.expr(f"explode(slice(array_sort({scored_sql}), 1, "
                             f"{int(nprobe)}))").alias("p"))
              .select("qid", "qv", "nq", F.col("p.cent_id").alias("cell")))
    pairs = (cells.join(F.broadcast(probes), "cell")
             .where(F.col(id_col) != F.col("qid"))
             .withColumn("cosine",
                         F.round(dot(F.col("qv"), F.col("v"))
                                 / (F.col("nq") * F.col("nv")), 6)))
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc(id_col))
    return (pairs.withColumn("rank", F.row_number().over(wk))
            .where(F.col("rank") <= k)
            # a vector in two probed cells would appear once per cell;
            # cells are disjoint (crank==1), so no dedup needed
            .select("qid", F.col(id_col).alias("neighbor_id"),
                    "cosine", "rank"))


PQ_M = 4                      # subspaces
PQ_SUB = DIM // PQ_M          # dims per subspace
PQ_KSUB = 8                   # sub-centroids per subspace


def _sub(vec: Column, m: int) -> Column:
    """1-based subspace slice m ∈ [1, PQ_M]."""
    return F.slice(vec, 1 + PQ_SUB * (m - 1), PQ_SUB)


def _l2sq(a: Column, b: Column) -> Column:
    """Deterministic left-fold squared L2 (matches the oracle's order)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def pq_encode(emb: DataFrame, id_col: str, vec_col: str,
              seed_ids: list[int]) -> DataFrame:
    """Product-quantization encoding: split each vector into ``PQ_M``
    subvectors and store, per subspace, the id of the nearest
    sub-centroid (L2, ties to the lowest centroid id via struct-min —
    deterministic in both engines). The codebook is the subspace slices
    of ``PQ_KSUB`` seed vectors (data-derived, broadcast).

    Output: (id, c1..c{PQ_M}) — the vector compressed to PQ_M small
    ints. At 64 dims × float32 → 4 codes this is a 64× memory cut,
    which is the point: at 100 TB the codes table fits where the
    vectors don't, so the ANN probe below never touches raw vectors
    except for the query panel. The encode pass is one broadcast
    cross join (KSUB rows) + one map-side-combinable min aggregation.
    """
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    cents = (e.where(F.col(id_col).isin(seed_ids))
             .select(F.col(id_col).alias("cent_id"), F.col("v").alias("cv")))
    scored = e.join(F.broadcast(cents)).select(
        id_col,
        "cent_id",
        *[_l2sq(_sub(F.col("v"), m), _sub(F.col("cv"), m)).alias(f"d{m}")
          for m in range(1, PQ_M + 1)])
    return scored.groupBy(id_col).agg(*[
        F.min(F.struct(F.col(f"d{m}").alias("d"),
                       F.col("cent_id").alias("cid")))
         .getField("cid").alias(f"c{m}")
        for m in range(1, PQ_M + 1)])


def pq_adc_topk(emb: DataFrame, id_col: str, vec_col: str,
                query_ids: list[int], seed_ids: list[int],
                k: int = 10) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the corpus is
    represented ONLY by its codes; each query precomputes its distance
    to every sub-centroid (a |Q| × PQ_M × PQ_KSUB lookup table — 160
    rows here — broadcast), and the approximate distance to a stored
    vector is the sum of the PQ_M looked-up entries.

    Scale: after the encode aggregation, the probe is PQ_M broadcast
    hash joins against the tiny lookup table and a scan-side 4-term
    add — the corpus-sized frame never reshuffles and never rehydrates
    raw vectors. The final per-query top-k is the same windowed rank as
    the exact baseline (rank on the ROUNDED distance, ties to the lower
    id, so cross-engine ordering is stable)."""
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    codes = pq_encode(emb, id_col, vec_col, seed_ids)
    cents = (e.where(F.col(id_col).isin(seed_ids))
             .select(F.col(id_col).alias("cent_id"), F.col("v").alias("cv")))
    qt = (e.where(F.col(id_col).isin(query_ids))
          .select(F.col(id_col).alias("qid"), F.col("v").alias("qv"))
          .join(F.broadcast(cents))
          .select("qid", "cent_id",
                  *[_l2sq(_sub(F.col("qv"), m), _sub(F.col("cv"), m))
                    .alias(f"qd{m}") for m in range(1, PQ_M + 1)]))
    out = codes
    for m in range(1, PQ_M + 1):
        t = qt.select(F.col("qid") if m == 1 else F.col("qid").alias(f"_q{m}"),
                      F.col("cent_id").alias(f"_c{m}"),
                      F.col(f"qd{m}"))
        cond = out[f"c{m}"] == t[f"_c{m}"]
        if m > 1:
            cond = cond & (out["qid"] == t[f"_q{m}"])
        out = out.join(F.broadcast(t), cond).drop(f"_c{m}", f"_q{m}")
    total = F.col("qd1")
    for m in range(2, PQ_M + 1):
        total = total + F.col(f"qd{m}")
    adc = (out.where(F.col(id_col) != F.col("qid"))
           .select("qid", F.col(id_col).alias("neighbor_id"),
                   F.round(total, 6).alias("adc_dist")))
    w = Window.partitionBy("qid").orderBy(F.asc("adc_dist"),
                                          F.asc("neighbor_id"))
    return (adc.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def pq_rerank_topk(emb: DataFrame, id_col: str, vec_col: str,
                   query_ids: list[int], seed_ids: list[int],
                   k: int = 10, shortlist: int = 50) -> DataFrame:
    """Two-stage retrieval — how production ANN actually serves: the
    PQ/ADC pass produces a cheap ``shortlist`` of candidates from codes
    alone, then ONLY those candidates are re-ranked with the exact
    cosine on real vectors. Buys back most of the recall quantization
    loses while touching ``shortlist``/N of the raw vectors (measured
    at sf0.01: mean recall@10 0.14 → 0.26 at 50/500 = 10% of the
    vector reads — modest because uniform-random vectors with an
    8-centroid codebook are PQ's worst case; the knobs are shortlist
    size and a k-means-trained codebook. See
    tests/test_similarity_recall.py).

    Scale: stage 1 is :func:`pq_adc_topk`'s broadcast-only probe;
    stage 2 joins the (qid, id) shortlist back to vectors by id — a
    point-lookup-shaped join AQE turns into a broadcast of the tiny
    shortlist — and the final window ranks ≤ shortlist rows per query.
    """
    cand = pq_adc_topk(emb, id_col, vec_col, query_ids, seed_ids,
                       k=shortlist).select("qid", "neighbor_id")
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    q = (e.where(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("qid"), F.col("v").alias("qv")))
    scored = (cand
              .join(e.withColumnRenamed(id_col, "neighbor_id")
                     .withColumnRenamed("v", "nv"), "neighbor_id")
              .join(F.broadcast(q), "qid")
              .withColumn("cosine", cosine(F.col("qv"), F.col("nv"))))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                          F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "neighbor_id", "cosine", "rank"))


def semantic_dedup(emb: DataFrame, id_col: str, vec_col: str,
                   centroid_ids: list[int], threshold: float = 0.9,
                   centroids: DataFrame | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication: assign every vector to its
    nearest coarse-quantizer cell, then within each cell drop any vector
    that has a LOWER-id cell-mate at cosine ≥ ``threshold`` (the
    deterministic keep-first tie-break of the SemDeDup recipe — one
    survivor per semantic near-dup set, no iterative clustering).

    Output: (id, cell, dup_of, kept) — ``dup_of`` is the smallest
    lower-id near-duplicate, null for survivors.

    Scale: the quantizer is broadcast (same as :func:`ivf_topk`); the
    only shuffle is the cell-keyed self-join, and pairs exist ONLY
    within a cell. At 100 TB the cell count is sized ∝ N/target so the
    per-cell pair work stays constant (SemDeDup runs k-means with k in
    the tens of thousands for exactly this reason — here the trained
    :mod:`clustering` centroids slot in via ``centroids``); cross-cell
    near-dups are missed by design, the recall/cost knob of the method.
    The join ships (id, cell, v) once per side; the pair filter
    evaluates the cosine inside the join, so nothing materializes
    beyond surviving pairs.
    """
    # Scan-fused literal-centroid assignment + precomputed norms (r11):
    # same rewrite and same bit-equivalence argument as ivf_topk (see
    # _cell_scored_sql); the cell self-join folds ONE dot per pair
    # instead of cosine()'s dot + two norms.
    e = (emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
         .withColumn("nv", norm(F.col("v"))))
    if centroids is None:
        if not centroid_ids:
            raise ValueError(
                "semantic_dedup needs centroid_ids or centroids")
        centroids = (e.where(F.col(id_col).isin(centroid_ids))
                     .select(F.col(id_col).alias("cent_id"),
                             F.col("v").alias("cv")))
    scored_sql = _cell_scored_sql(centroids)
    cells = e.select(
        id_col, "v", "nv",
        F.expr(f"array_min({scored_sql}).cent_id").alias("cell"))
    a = cells.select(F.col(id_col).alias("id_a"),
                     F.col("v").alias("va"), F.col("nv").alias("na"), "cell")
    b = cells.select(F.col(id_col).alias("id_b"),
                     F.col("v").alias("vb"), F.col("nv").alias("nb"), "cell")
    dup = (a.join(b, "cell")
           .where(F.col("id_b") < F.col("id_a"))
           .where(F.round(dot(F.col("va"), F.col("vb"))
                          / (F.col("na") * F.col("nb")), 6) >= threshold)
           .groupBy("id_a").agg(F.min("id_b").alias("dup_of")))
    return (cells
            .join(dup, cells[id_col] == dup.id_a, "left")
            .select(F.col(id_col), "cell", "dup_of",
                    F.col("dup_of").isNull().alias("kept")))


def embedding_neardup_pairs(emb: DataFrame, id_col: str, vec_col: str,
                            threshold: float = 0.9) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-band hyperplane
    LSH (OR-amplification, same shape as the MinHash band path): each
    vector gets ``N_BANDS`` independent 8-bit signatures; a pair is a
    candidate if it collides in ANY band, and the exact cosine runs only
    on candidates.

    Scale/recall math: with random hyperplanes, P(two vectors agree on
    one bit) = 1 − θ/π. At cosine 0.9 (θ ≈ 0.451 rad, p ≈ 0.856) a
    single 8-plane table catches p⁸ ≈ 29% of true pairs; OR over 4
    bands lifts recall to 1 − (1 − p⁸)⁴ ≈ 74%. Expected band-bucket
    population for spread vectors is N/2⁸ — at larger N, raise
    ``N_PLANES`` (bucket size halves per plane, b ≈ log₂(N/target)
    keeps it constant) and add bands to buy the recall back; both are
    constants baked as literals so the DuckDB oracle stays in lockstep.

    The band self-join ships ONLY ``(id, band, sig)`` — the vectors
    stay out of the candidate shuffle entirely (they'd otherwise ride
    every band replica, ~2·N_BANDS copies of the embedding payload).
    Candidate pairs are deduped (a pair colliding in several bands)
    while still just id pairs, then the two vectors are joined back by
    id for the surviving candidates only and the exact cosine runs
    once per pair. At 100 TB this turns the heaviest exchange from
    vectors×bands into 20-byte id/sig rows, and AQE is free to
    broadcast the (small) candidate set into the vector joins."""
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    sigs = e.select(
        id_col,
        F.expr("explode(array(" + ", ".join(
            f"named_struct('band', {band}, 'sig', "
            + _lsh_bucket_sql("v", planes) + ")"
            for band, planes in enumerate(BAND_PLANES)) + "))").alias("bs"),
    ).select(id_col, F.col("bs.band").alias("band"),
             F.col("bs.sig").alias("sig"))
    # the signature build is N_BANDS x 8 interpreted zip_with/aggregate
    # folds per vector and feeds BOTH self-join sides — persist so it
    # runs once per vector, not twice (the knn_graph sigs convention;
    # the cached band table is 3 narrow columns, 4 rows/vector).
    # Released via tables.release.
    sigs = persist(sigs)
    a = sigs.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = sigs.select(F.col(id_col).alias("id_b"), "band", "sig")
    cand = (a.join(b, ["band", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())
    # norms precompute ONCE per vector on each join-back side (the
    # knn_graph rule): cosine() inside the candidate filter re-ran
    # norm(va)·norm(vb) per pair — 2 extra O(dim) interpreted folds on
    # every candidate, and candidates ≈ N·avg_bucket ≥ N at pinned
    # occupancy. round(dot/(na·nb), 6) is bit-identical to cosine().
    # en feeds BOTH join-back sides, so the interpreted norm fold is
    # persisted once (N folds + cache write) instead of re-paid per
    # side (2N folds) — the knn_graph persist convention; released via
    # tables.release.
    en = persist(e.withColumn("nm", norm(F.col("v"))))
    return (cand
            .join(en.select(F.col(id_col).alias("id_a"),
                            F.col("v").alias("va"),
                            F.col("nm").alias("na")), "id_a")
            .join(en.select(F.col(id_col).alias("id_b"),
                            F.col("v").alias("vb"),
                            F.col("nm").alias("nb")), "id_b")
            .withColumn("cosine", F.round(dot(F.col("va"), F.col("vb"))
                                          / (F.col("na") * F.col("nb")), 6))
            .where(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


def knn_graph(emb: DataFrame, id_col: str, vec_col: str,
              k: int = 5) -> DataFrame:
    """Approximate k-NN GRAPH: top-k cosine neighbors for EVERY vector
    (not a query panel) — the backbone structure behind semantic dedup
    clustering, label propagation, and graph-based ANN serving.

    Same multi-band LSH candidate generation as
    :func:`embedding_neardup_pairs` (and the same slim-join rule: only
    ``(id, band, sig)`` rides the self-join; vectors join back for
    surviving candidates). Each unordered pair is scored ONCE and the
    scored edge mirrored into both directions before ranking (r11), so
    each node ranks every neighbor it collided with in any band; nodes
    whose buckets hold fewer than k collisions emit fewer than k edges
    (the honest LSH contract — raise N_BANDS for more recall, never a
    corpus cross join).

    Scale: candidate count is Σ_buckets C(occupancy, 2) ≈ N·avg_bucket
    — linear in N for fixed bucket occupancy (size N_PLANES as
    log₂(N/target) to pin it). The per-node top-k is one hash-partition
    window over src (WindowGroupLimit prunes to k per key map-side
    before the shuffle). No driver-side state anywhere.
    """
    e = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("v"))
    # sigs and normed vectors feed 2 and 3 plan branches respectively;
    # the HOF fold expressions are interpreted (not codegen), so each
    # recomputation pays the full O(bands·planes·dim) walk — persist
    # both (tracked by tables.persist)
    sigs = persist(e.select(
        id_col,
        F.expr("explode(array(" + ", ".join(
            f"named_struct('band', {band}, 'sig', "
            + _lsh_bucket_sql("v", planes) + ")"
            for band, planes in enumerate(BAND_PLANES)) + "))").alias("bs"),
    ).select(id_col, F.col("bs.band").alias("band"),
             F.col("bs.sig").alias("sig")))
    a = sigs.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = sigs.select(F.col(id_col).alias("id_b"), "band", "sig")
    half = (a.join(b, ["band", "sig"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct())
    # norms precompute ONCE per vector and ride the candidate join:
    # cosine recomputing norm(a)·norm(b) per pair would redo 2·dim ops
    # on every one of the ~N·k·bands candidates (the dominant term).
    # round(dot/(na·nb), 6) is bit-identical to cosine() — same doubles.
    en = persist(e.select(id_col, "v", norm(F.col("v")).alias("nm")))
    # Score each UNORDERED pair once, then explode-mirror the scored
    # edge (r11, guide §2.3/§3.3): the former mirror-then-score unioned
    # the half-pair subtree and re-ran the vector joins AND the
    # interpreted dot fold for the reverse direction — 2x the candidate
    # join bytes and 2x the O(dim) folds for bit-identical values
    # (IEEE multiply commutes; the fold order over dims is the same in
    # either direction).
    scored_half = (half
                   .join(en.select(F.col(id_col).alias("id_a"),
                                   F.col("v").alias("va"),
                                   F.col("nm").alias("na")), "id_a")
                   .join(en.select(F.col(id_col).alias("id_b"),
                                   F.col("v").alias("vb"),
                                   F.col("nm").alias("nb")), "id_b")
                   .select("id_a", "id_b",
                           F.round(dot(F.col("va"), F.col("vb"))
                                   / (F.col("na") * F.col("nb")), 6)
                            .alias("cosine")))
    scored = (scored_half
              .select(F.explode(F.array(
                  F.struct(F.col("id_a").alias("src"),
                           F.col("id_b").alias("dst")),
                  F.struct(F.col("id_b").alias("src"),
                           F.col("id_a").alias("dst")))).alias("e"),
                  "cosine")
              .select(F.col("e.src").alias("src"),
                      F.col("e.dst").alias("dst"), "cosine"))
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("src", "dst", "cosine", F.col("rank").cast("int")
                    .alias("rank")))


# ---------------------------------------------------------------------------
# Scalar quantization (int8-per-dim) — third compression family after
# IVF (coarse) and PQ (subspace codes)
# ---------------------------------------------------------------------------
SQ_LEVELS = 255


def sq_grid(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-dimension [min, max] training pass for the scalar quantizer:
    ONE row ``(mn: array<double>, mx: array<double>)`` with dim-sorted
    per-component extrema.

    Determinism: float min/max never rounds, so both engines produce
    the identical doubles; the dim-sorted collect is keyed by position
    (struct-sort), not by collect order.

    Scale: posexplode (dim × rows components) into a (dim)-keyed
    min/max — map-side combined to DIM rows per partition before the
    one tiny shuffle; the resulting grid is a single row, broadcast to
    the encode pass. This is the whole "training" cost of SQ, which is
    why deployments reach for it first: one cheap pass, 4× memory cut
    (float32 → uint8), no codebooks.
    """
    comp = (emb.select(F.posexplode(as_double(F.col(vec_col)))
                       .alias("d", "x")))
    per_dim = comp.groupBy("d").agg(F.min("x").alias("mn"),
                                    F.max("x").alias("mx"))
    return per_dim.agg(
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mn"))),
                    lambda s: s["mn"]).alias("mn"),
        F.transform(F.array_sort(F.collect_list(F.struct("d", "mx"))),
                    lambda s: s["mx"]).alias("mx"))


def sq_encode(emb: DataFrame, id_col: str, vec_col: str,
              grid: DataFrame) -> DataFrame:
    """Quantize every vector to ``SQ_LEVELS``+1 integer codes per dim:
    ``floor((x - mn_d) * 255 / (mx_d - mn_d))`` clamped to [0, 255]
    (a constant dim, mx == mn, codes to 0 in both engines).

    Determinism: the affine expression is a fixed IEEE tree over exact
    inputs — both engines compute the identical double, so the floor
    is identical (x == mx may floor to 254 when (span·255)/span
    rounds down — same double both sides, parity holds).

    Scale: grid is one broadcast row; encoding is scan-fused per-row
    compute. The codes table is what an index stores: 64 B/vector vs
    256 B raw — the corpus-side vectors are never read again.
    """
    mn, mx = F.col("mn"), F.col("mx")
    codes = F.transform(
        as_double(F.col(vec_col)),
        lambda x, i: F.when(F.element_at(mx, i + 1) == F.element_at(mn, i + 1),
                            F.lit(0).cast("long"))
        .otherwise(
            F.least(F.lit(SQ_LEVELS).cast("long"), F.greatest(
                F.lit(0).cast("long"),
                F.floor((x - F.element_at(mn, i + 1)) * SQ_LEVELS
                        / (F.element_at(mx, i + 1)
                           - F.element_at(mn, i + 1))).cast("long")))))
    return (emb.join(F.broadcast(grid))
            .select(F.col(id_col), codes.alias("c")))


def sq_topk(emb: DataFrame, id_col: str, vec_col: str,
            query_ids: list[int], k: int = 10) -> DataFrame:
    """Symmetric-distance top-k over scalar-quantized codes: both the
    corpus and the probe panel are encoded on the corpus-trained grid
    and ranked by exact integer squared-L2 over codes (≤ 255² · DIM ≈
    4.2e6 — comfortably int64; ties break to the lowest neighbor id).

    Scale: the scan side is the CODES table (4× smaller than raw) with
    the tiny panel broadcast — the same panel-bounded probe shape as
    ``brute_force_topk``, but at 100 TB the operand that must be
    resident shrinks 4×, which is the entire point of SQ. One window
    shuffle over (qid) ranks the candidates.
    """
    grid = sq_grid(emb, id_col, vec_col)
    codes = sq_encode(emb, id_col, vec_col, grid)
    q = (codes.where(F.col(id_col).isin(query_ids))
         .select(F.col(id_col).alias("qid"), F.col("c").alias("qc")))
    dist = F.aggregate(F.zip_with(F.col("qc"), F.col("c"),
                                  lambda a, b: (a - b) * (a - b)),
                       F.lit(0).cast("long"), lambda acc, x: acc + x)
    pairs = (codes.join(F.broadcast(q), F.col(id_col) != F.col("qid"))
             .select("qid", F.col(id_col).alias("neighbor_id"),
                     dist.alias("dist")))
    w = Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("qid", "neighbor_id", "dist",
                    F.col("rank").cast("int").alias("rank")))
