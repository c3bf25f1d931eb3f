"""Model/retrieval evaluation operators: ranking metrics (NDCG@k,
MRR, precision@k), ROUGE-N / BLEU pairwise text overlap, a Viterbi
HMM decode over event streams, a Hampel rolling-median outlier
filter, and per-shard diversity indices.

These are the eval-side companions of the retrieval/dedup/curation
families: a training-data pipeline that builds retrieval indexes
(bm25_topk, ann_*) and near-dup pair sets needs the metrics that
judge them. The reference's own test strategy (golden outputs per
transform, alma_publish_to_marc/tests) motivates the
oracle-per-query shape; the metrics themselves are public-knowledge
IR/NLP definitions.

Cross-engine determinism: every metric is computed in exact integer
space (e6 fixed point, cross-multiplied comparisons, Python-inlined
weight tables for the irrational log2 discounts) except where a
transcendental is intrinsic (BLEU's exp/ln — one identical
expression in both engines + round(6), the ngram_lm_perplexity
precedent).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, persist


# --------------------------------------------------------------------------
# retrieval_ranking_metrics: NDCG@10 / MRR / P@10 for token-overlap retrieval
# --------------------------------------------------------------------------

_RANK_K = 10
# FIXED-SIZE query panel (lowest 32 ids among doc_id % 101 == 0): a
# panel that is a fixed FRACTION of the corpus makes the eval O(N²)
# (the 1x→4x scale probe measured 2.2s → 15.1s); a capped panel keeps
# it O(panel·N) — the shape a real fixed eval set has.
_RANK_NQ = 32
# DCG position weights floor(1e6 / log2(i+1)) precomputed in PYTHON and
# inlined as integer literals in BOTH engines: the discount is
# irrational, and a floor-of-double computed independently per engine
# could land on opposite sides of the boundary (CLAUDE.md round rule).
_DCG_W = [math.floor(1_000_000 / math.log2(i + 1))
          for i in range(1, _RANK_K + 1)]
_DCG_CW = [0]
for _w in _DCG_W:
    _DCG_CW.append(_DCG_CW[-1] + _w)


def _w_case(pos: str) -> str:
    arms = " ".join(f"WHEN {i + 1} THEN {w}"
                    for i, w in enumerate(_DCG_W))
    return f"CASE {pos} {arms} ELSE 0 END"


def _cw_at(expr: str) -> str:
    """Prefix-sum lookup CW[clamp(expr, 0, K)] as a CASE over inlined
    literals (identical text in both engines)."""
    arms = " ".join(f"WHEN {i} THEN {cw}" for i, cw in enumerate(_DCG_CW))
    return (f"CASE (CASE WHEN ({expr}) > {_RANK_K} THEN {_RANK_K} "
            f"WHEN ({expr}) < 0 THEN 0 ELSE ({expr}) END) {arms} END")


def _retrieval_ranking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10, reciprocal rank, and precision@10 per query for
    shared-distinct-token retrieval over ``documents``: query panel =
    the lowest 32 doc_ids with doc_id % 101 == 0 (FIXED size — a
    fraction-of-corpus panel would make the eval O(N²)), candidates
    ranked by count of shared distinct tokens (tie-break doc_id),
    graded relevance 2 = same source AND lang, 1 = same lang, 0
    otherwise.

    Determinism: gains are 2^rel − 1 (exact ints); the irrational
    1/log2(i+1) discounts are a Python-precomputed integer weight
    table inlined into BOTH engines, so DCG_e6 = Σ gain·w_i is exact
    int64; IDCG_e6 comes from the same table's prefix sums indexed by
    the per-query counts of rel-2 / rel-1 candidates (the ideal
    ranking is analytic — no second sort); ndcg_e6 = 1e6·DCG div
    IDCG. RR and P@10 are exact rationals.

    Scale: the query panel is a tiny broadcast (≈1% of docs); corpus
    postings are md5-keyed distinct tokens, built ONCE and persisted
    (they feed both the panel extraction and the corpus side of the
    match join — without the persist the corpus explode+distinct
    would run twice; released via tables.release); one shuffle to
    group (qid, doc) match counts; the per-qid top-10 window
    partitions on qid (panel-bounded, never the corpus). 100 TB:
    panel broadcast unchanged; the postings join is the same shape
    as bm25_topk.
    """
    docs = load(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "source", "lang")
    toks = persist(
        docs.select("doc_id",
                    F.explode(F.split(F.trim(F.lower(F.col("text"))),
                                      r"\s+")).alias("w"))
        .where(F.col("w") != "")
        .select("doc_id", F.unhex(F.md5("w")).alias("wk"))
        .distinct())
    qdocs = (meta.where(F.col("doc_id") % 101 == 0)
             .orderBy("doc_id").limit(_RANK_NQ))
    qtoks = (toks.join(F.broadcast(qdocs.select("doc_id")), "doc_id")
             .withColumnRenamed("doc_id", "qid"))
    scored = (toks.join(F.broadcast(qtoks), "wk")
              .where(F.col("doc_id") != F.col("qid"))
              .groupBy("qid", "doc_id")
              .agg(F.count(F.lit(1)).alias("score")))
    q = qdocs.select(F.col("doc_id").alias("qid"),
                     F.col("source").alias("q_source"),
                     F.col("lang").alias("q_lang"))
    rel = (scored.join(F.broadcast(q), "qid")
           .join(meta, "doc_id")
           .select("qid", "doc_id", "score",
                   F.when((F.col("source") == F.col("q_source"))
                          & (F.col("lang") == F.col("q_lang")), 2)
                   .when(F.col("lang") == F.col("q_lang"), 1)
                   .otherwise(0).alias("rel")))
    from pyspark.sql import Window
    pos = F.row_number().over(
        Window.partitionBy("qid").orderBy(F.desc("score"), "doc_id"))
    # ONE groupBy over the window-annotated frame computes both the
    # top-K metrics (pos <= K guards) and the ideal-ranking counts
    # (all rows): the former per_q/ideal split aggregated the same
    # subtree twice and joined the halves back on qid — an extra
    # exchange plus a recompute ReuseExchange cannot always dedup
    # (guide §2.4). The window's qid partitioning already satisfies
    # this aggregation's clustering, so no new shuffle. Equivalent:
    # top ⊆ rel means both halves grouped the identical qid set, so
    # the inner join was a column concatenation.
    in_top = F.col("pos") <= _RANK_K
    per_q = (rel.withColumn("pos", pos).groupBy("qid").agg(
        F.sum(in_top.cast("long")).alias("n_ranked"),
        F.sum((in_top & (F.col("rel") >= 1)).cast("long")).alias("hits10"),
        F.sum(F.when(in_top, F.expr(
            f"(shiftleft(cast(1 as bigint), rel) - 1)"
            f" * ({_w_case('pos')})")).otherwise(F.lit(0)))
        .alias("dcg_e6"),
        F.min(F.when(in_top & (F.col("rel") >= 1), F.col("pos")))
        .alias("first_rel"),
        F.sum((F.col("rel") == 2).cast("long")).alias("n2"),
        F.sum((F.col("rel") == 1).cast("long")).alias("n1")))
    return (per_q
            .select("qid", "n_ranked", "hits10",
                    F.coalesce(F.expr("1000000 div first_rel"), F.lit(0))
                    .cast("long").alias("rr_e6"),
                    (F.col("hits10") * 100000).alias("p10_e6"),
                    "dcg_e6",
                    F.expr(f"cast(3 * ({_cw_at('n2')}) + ({_cw_at('n2 + n1')})"
                           f" - ({_cw_at('n2')}) as bigint)").alias("idcg_e6"),
                    F.expr(f"cast(CASE WHEN (3 * ({_cw_at('n2')})"
                           f" + ({_cw_at('n2 + n1')}) - ({_cw_at('n2')})) = 0"
                           f" THEN 0 ELSE (1000000 * dcg_e6) div"
                           f" (3 * ({_cw_at('n2')}) + ({_cw_at('n2 + n1')})"
                           f" - ({_cw_at('n2')})) END as bigint)")
                    .alias("ndcg_e6")))


_RANKING_SQL = rf"""
WITH toks AS (
  SELECT DISTINCT doc_id, unhex(md5(w)) AS wk
  FROM (SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents)
  WHERE w <> ''
),
qdocs AS (SELECT doc_id, source, lang FROM documents
          WHERE doc_id % 101 = 0 ORDER BY doc_id LIMIT {_RANK_NQ}),
scored AS (
  SELECT q.doc_id AS qid, t.doc_id, CAST(count(*) AS BIGINT) AS score
  FROM toks t JOIN (SELECT tq.doc_id, tq.wk FROM toks tq
                    JOIN qdocs ON tq.doc_id = qdocs.doc_id) q
    ON t.wk = q.wk AND t.doc_id <> q.doc_id
  GROUP BY 1, 2
),
rel AS (
  SELECT s.qid, s.doc_id, s.score,
         CASE WHEN d.source = q.source AND d.lang = q.lang THEN 2
              WHEN d.lang = q.lang THEN 1 ELSE 0 END AS rel
  FROM scored s
  JOIN qdocs q ON s.qid = q.doc_id
  JOIN documents d ON s.doc_id = d.doc_id
),
top AS (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY score DESC, doc_id) AS pos
  FROM rel QUALIFY pos <= {_RANK_K}
),
per_q AS (
  SELECT qid, CAST(count(*) AS BIGINT) AS n_ranked,
         CAST(sum(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hits10,
         CAST(sum(((1 << rel) - 1) * ({_w_case('pos')})) AS BIGINT)
             AS dcg_e6,
         min(CASE WHEN rel >= 1 THEN pos END) AS first_rel
  FROM top GROUP BY qid
),
ideal AS (
  SELECT qid,
         CAST(sum(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
  FROM rel GROUP BY qid
)
SELECT p.qid, p.n_ranked, p.hits10,
       CAST(coalesce(1000000 // first_rel, 0) AS BIGINT) AS rr_e6,
       p.hits10 * 100000 AS p10_e6,
       p.dcg_e6,
       CAST(3 * ({_cw_at('n2')}) + ({_cw_at('n2 + n1')})
            - ({_cw_at('n2')}) AS BIGINT) AS idcg_e6,
       CAST(CASE WHEN (3 * ({_cw_at('n2')}) + ({_cw_at('n2 + n1')})
                       - ({_cw_at('n2')})) = 0
            THEN 0 ELSE (1000000 * p.dcg_e6) //
                 (3 * ({_cw_at('n2')}) + ({_cw_at('n2 + n1')})
                  - ({_cw_at('n2')})) END AS BIGINT) AS ndcg_e6
FROM per_q p JOIN ideal i ON p.qid = i.qid
"""


# --------------------------------------------------------------------------
# rouge_overlap_eval / bleu_ngram_eval: pairwise n-gram overlap metrics
# --------------------------------------------------------------------------

def _pair_gram_counts(spark: SparkSession, sf_dir: str):
    """Shared machinery: same-source adjacent-id doc pairs with
    per-order (1,2) clipped n-gram overlap and per-doc gram totals.

    Returns a DataFrame (pair_id, ua, ub, ba, bb, ov1, ov2): unigram /
    bigram token totals of reference (doc a = pair_id) and candidate
    (doc a+1), and clipped overlaps Σ_g min(c_a(g), c_b(g)).

    Scale: per-doc gram counts are md5-keyed and computed once; the
    pair join ships (doc_id, gram_key, count) only — each doc is in
    ≤ 2 pairs so the gram join fans out ×2, never quadratic.
    """
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "source",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws"))
    from pyspark.sql import Window

    grams = (words.select(
        "doc_id",
        F.explode(F.expr(
            "concat("
            " transform(ws, w -> concat('u:', w)),"
            " transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
            "           (w, i) -> concat('b:', w, ' ', ws[i + 1])))"))
        .alias("g"))
        .groupBy("doc_id", F.unhex(F.md5("g")).alias("gk"),
                 F.substring("g", 1, 1).alias("ord"))
        .agg(F.count(F.lit(1)).alias("c")))
    # pair each doc with its same-source successor BY ID ORDER (sources
    # interleave across doc_ids, so "doc_id + 1" would find no pairs)
    nxt = Window.partitionBy("source").orderBy("doc_id")
    sized = words.select("doc_id", "source", F.size("ws").alias("n"))
    pairs = (sized
             .withColumn("b_id", F.lead("doc_id").over(nxt))
             .withColumn("ub", F.lead("n").over(nxt))
             .where(F.col("b_id").isNotNull())
             .select(F.col("doc_id").alias("pair_id"), "b_id",
                     F.col("n").alias("ua"), "ub",
                     (F.col("n") - 1).alias("ba"),
                     (F.col("ub") - 1).alias("bb")))
    ga = grams.select(F.col("doc_id").alias("pair_id"), "gk", "ord",
                      F.col("c").alias("ca"))
    gb = grams.select(F.col("doc_id").alias("b_id"), "gk", "ord",
                      F.col("c").alias("cb"))
    ov = (pairs.select("pair_id", "b_id")
          .join(ga, "pair_id").join(gb, ["b_id", "gk", "ord"])
          .groupBy("pair_id")
          .agg(F.sum(F.when(F.col("ord") == "u",
                            F.least("ca", "cb"))).alias("ov1"),
               F.sum(F.when(F.col("ord") == "b",
                            F.least("ca", "cb"))).alias("ov2")))
    return (pairs.join(ov, "pair_id", "left")
            .select("pair_id", "ua", "ub", "ba", "bb",
                    F.coalesce("ov1", F.lit(0)).alias("ov1"),
                    F.coalesce("ov2", F.lit(0)).alias("ov2")))


_PAIR_GRAMS_SQL = r"""
words AS (
  SELECT doc_id, source,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, unhex(md5(g)) AS gk, substr(g, 1, 1) AS ordx,
         CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT doc_id, unnest(list_concat(
        list_transform(ws, w -> 'u:' || w),
        list_transform(range(1, greatest(len(ws), 1)),
                       i -> 'b:' || ws[i] || ' ' || ws[i + 1]))) AS g
    FROM words)
  GROUP BY 1, 2, 3
),
sized AS (
  SELECT doc_id, source, CAST(len(ws) AS INT) AS n,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS b_id,
         lead(CAST(len(ws) AS INT))
             OVER (PARTITION BY source ORDER BY doc_id) AS ub
  FROM words
),
pairs AS (
  SELECT doc_id AS pair_id, b_id, n AS ua, ub,
         n - 1 AS ba, ub - 1 AS bb
  FROM sized WHERE b_id IS NOT NULL
),
ov AS (
  SELECT p.pair_id,
         CAST(sum(CASE WHEN ga.ordx = 'u'
                       THEN least(ga.c, gb.c) END) AS BIGINT) AS ov1,
         CAST(sum(CASE WHEN ga.ordx = 'b'
                       THEN least(ga.c, gb.c) END) AS BIGINT) AS ov2
  FROM pairs p
  JOIN grams ga ON ga.doc_id = p.pair_id
  JOIN grams gb ON gb.doc_id = p.b_id
              AND gb.gk = ga.gk AND gb.ordx = ga.ordx
  GROUP BY 1
),
pg AS (
  SELECT p.pair_id, p.ua, p.ub, p.ba, p.bb,
         coalesce(o.ov1, 0) AS ov1, coalesce(o.ov2, 0) AS ov2
  FROM pairs p LEFT JOIN ov o ON p.pair_id = o.pair_id
)
"""


def _rouge_overlap_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 / ROUGE-2 (Lin 2004) between same-source adjacent-id
    doc pairs (reference = doc_id, candidate = doc_id+1) — the
    summary/paraphrase overlap score a curation pipeline uses to
    grade near-dup candidates and synthetic rewrites.

    Determinism: with clipped overlap ov shared by precision and
    recall, F1 = 2·ov/(len_ref + len_cand) is an exact rational —
    every output is integer e6 fixed point, no floats anywhere.

    Scale: see _pair_gram_counts — linear in corpus size, gram keys
    are 16-byte md5, each doc joins into at most two pairs.
    """
    pg = _pair_gram_counts(spark, sf_dir)
    return pg.select(
        "pair_id",
        F.expr("1000000 * ov1 div ub").alias("r1_prec_e6"),
        F.expr("1000000 * ov1 div ua").alias("r1_rec_e6"),
        F.expr("2000000 * ov1 div (ua + ub)").alias("r1_f1_e6"),
        F.expr("CASE WHEN bb <= 0 THEN 0"
               " ELSE 1000000 * ov2 div bb END").alias("r2_prec_e6"),
        F.expr("CASE WHEN ba <= 0 THEN 0"
               " ELSE 1000000 * ov2 div ba END").alias("r2_rec_e6"),
        F.expr("CASE WHEN ba + bb <= 0 THEN 0"
               " ELSE 2000000 * ov2 div (ba + bb) END").alias("r2_f1_e6"))


_ROUGE_SQL = f"""
WITH {_PAIR_GRAMS_SQL}
SELECT pair_id,
       1000000 * ov1 // ub AS r1_prec_e6,
       1000000 * ov1 // ua AS r1_rec_e6,
       2000000 * ov1 // (ua + ub) AS r1_f1_e6,
       CASE WHEN bb <= 0 THEN 0 ELSE 1000000 * ov2 // bb END AS r2_prec_e6,
       CASE WHEN ba <= 0 THEN 0 ELSE 1000000 * ov2 // ba END AS r2_rec_e6,
       CASE WHEN ba + bb <= 0 THEN 0
            ELSE 2000000 * ov2 // (ba + bb) END AS r2_f1_e6
FROM pg
"""


def _bleu_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 (Papineni 2002: geometric mean of clipped 1/2-gram
    precision × brevity penalty) over the same doc pairs as ROUGE —
    candidate = doc_id+1 scored against reference = doc_id.

    Determinism: the clipped counts and lengths are exact ints
    (emitted alongside); the geometric mean and BP need exp/ln — ONE
    identical expression in both engines with round(6), the
    ngram_lm_perplexity precedent (transcendental outputs never land
    on decimal midpoints). Zero-overlap pairs short-circuit to 0
    before any log.

    Scale: identical to rouge_overlap_eval.
    """
    pg = _pair_gram_counts(spark, sf_dir)
    bleu = ("CASE WHEN ov1 = 0 OR ov2 <= 0 OR bb <= 0 THEN 0.0"
            " ELSE round(exp("
            "   0.5 * (ln(CAST(ov1 AS DOUBLE) / ub)"
            "          + ln(CAST(ov2 AS DOUBLE) / bb))"
            "   + least(0.0, 1.0 - CAST(ua AS DOUBLE) / ub)), 6)"
            " + 0.0 END")
    return pg.select("pair_id", "ua", "ub", "ov1", "ov2",
                     F.expr(bleu).alias("bleu2_r6"))


_BLEU_SQL = f"""
WITH {_PAIR_GRAMS_SQL}
SELECT pair_id, ua, ub, ov1, ov2,
       CASE WHEN ov1 = 0 OR ov2 <= 0 OR bb <= 0 THEN 0.0
            ELSE round(exp(
                0.5 * (ln(CAST(ov1 AS DOUBLE) / ub)
                       + ln(CAST(ov2 AS DOUBLE) / bb))
                + least(0.0, 1.0 - CAST(ua AS DOUBLE) / ub)), 6)
            + 0.0 END AS bleu2_r6
FROM pg
"""


# --------------------------------------------------------------------------
# viterbi_state_decode: 2-state HMM max-likelihood decode per user
# --------------------------------------------------------------------------

# Micro-log (e3) weights: fixed public constants, not fitted.
_V_T = dict(t00=-105, t01=-1204, t10=-693, t11=-357)
_V_INIT = (0, -800)
_V_E0 = {"view": -223, "click": -1204, "error": -2303,
         "signup": -2996, "purchase": -2996}
_V_E1 = {"view": -1609, "click": -511, "error": -2996,
         "signup": -916, "purchase": -511}


def _emis_case(var: str, table: dict) -> str:
    arms = " ".join(f"WHEN '{k}' THEN {v}" for k, v in sorted(table.items()))
    return f"(CASE {var} {arms} ELSE -9000 END)"


def _viterbi_state_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Viterbi decode under a fixed 2-state HMM (casual vs
    intent) over the event-type sequence — the sequence-labeling
    kernel (session intent, bot detection) expressed as an exact
    integer DP.

    Determinism: all scores are int64 micro-logs; the DP is a left
    fold over the (ts, event_id)-sorted sequence. Both new state
    scores need both OLD scores — a shape DuckDB 1.0's list_reduce
    struct accumulators cannot express safely (measured here: a
    field copy ``old0 := acc.s0`` read by a later field behaves like
    an ALIAS, sometimes stale, sometimes new — worse than the
    documented in-place rule), so the oracle packs the accumulator
    into a single ``'s0:s1'`` VARCHAR: one field, self-read only, no
    cross-field hazard. Spark's aggregate() reads a consistent
    snapshot, so it keeps the natural struct fold. Final-state ties
    break to state 0.

    Scale: one shuffle to group events by user; the fold is
    interpreted but single-branch (consumed once, no persist
    needed). At 100 TB sequences stay user-bounded; the state is 3
    int64s regardless of sequence length.
    """
    t = _V_T
    ev = load(spark, sf_dir, "events")
    seq = (ev.select("user_id",
                     F.struct(F.unix_micros(F.col("ts").cast("timestamp"))
                              .alias("t"),
                              F.col("event_id").alias("i"),
                              F.col("event_type").alias("x")).alias("s"))
           .groupBy("user_id")
           .agg(F.array_sort(F.collect_list("s")).alias("xs")))
    e0 = _emis_case("x.x", _V_E0)
    e1 = _emis_case("x.x", _V_E1)
    fold = (f"aggregate(xs,"
            f" named_struct('old0', cast(0 as bigint),"
            f"              's0', cast({_V_INIT[0]} as bigint),"
            f"              's1', cast({_V_INIT[1]} as bigint)),"
            f" (acc, x) -> named_struct("
            f"   'old0', acc.s0,"
            f"   's0', greatest(acc.s0 + {t['t00']}, acc.s1 + {t['t10']})"
            f"         + {e0},"
            f"   's1', greatest(acc.s0 + {t['t01']}, acc.s1 + {t['t11']})"
            f"         + {e1}))")
    return (seq.select("user_id", F.size("xs").alias("n_events"),
                       F.expr(fold).alias("v"))
            .select("user_id", "n_events",
                    F.greatest("v.s0", "v.s1").alias("best_score"),
                    F.expr("CASE WHEN v.s0 >= v.s1 THEN 0 ELSE 1 END")
                    .alias("best_state")))


def _viterbi_sql() -> str:
    t = _V_T
    e0 = _emis_case("x.x", _V_E0)
    e1 = _emis_case("x.x", _V_E1)
    a0 = "CAST(str_split(acc, ':')[1] AS BIGINT)"
    a1 = "CAST(str_split(acc, ':')[2] AS BIGINT)"
    return f"""
WITH seq AS (
  SELECT user_id,
         list_sort(list(struct_pack(t := epoch_us(ts),
                                    i := event_id,
                                    x := event_type))) AS xs
  FROM events GROUP BY user_id
),
dp AS (
  SELECT user_id, CAST(len(xs) AS INT) AS n_events,
         list_reduce(
           list_prepend('{_V_INIT[0]}:{_V_INIT[1]}',
                        list_transform(xs, x ->
                            CAST(CAST({e0} AS BIGINT) AS VARCHAR) || ':'
                            || CAST(CAST({e1} AS BIGINT) AS VARCHAR))),
           (acc, x) ->
             CAST(greatest({a0} + {t['t00']}, {a1} + {t['t10']})
                  + CAST(str_split(x, ':')[1] AS BIGINT) AS VARCHAR)
             || ':' ||
             CAST(greatest({a0} + {t['t01']}, {a1} + {t['t11']})
                  + CAST(str_split(x, ':')[2] AS BIGINT) AS VARCHAR)) AS v
  FROM seq
),
parsed AS (
  SELECT user_id, n_events,
         CAST(str_split(v, ':')[1] AS BIGINT) AS s0,
         CAST(str_split(v, ':')[2] AS BIGINT) AS s1
  FROM dp
)
SELECT user_id, n_events,
       greatest(s0, s1) AS best_score,
       CASE WHEN s0 >= s1 THEN 0 ELSE 1 END AS best_state
FROM parsed
"""


# --------------------------------------------------------------------------
# hampel_outlier_filter: rolling median/MAD despiking of daily series
# --------------------------------------------------------------------------

def _hampel_outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily event counts per type: a point is an
    outlier when |x − rolling_median| > 3·1.4826·rolling_MAD over the
    centered 7-day window — the robust despiking gate a monitoring
    pipeline runs before feeding counts to forecasts.

    Determinism: medians ride DOUBLED integer order statistics
    (m2 = a[(n+1) div 2] + a[(n+2) div 2] on the sorted window, exact
    for odd and even n); deviations d = |2x − m2| and their doubled
    median mad2d stay int64; the 3σ test cross-multiplies to
    20000·d > 44478·mad2d (3·1.4826 = 4.4478 exactly) — no float
    touches the decision. Day/window come from integer epoch
    arithmetic (engine dayofweek clash, CLAUDE.md).

    Scale: one shuffle to daily grain (map-side combinable count);
    the 7-row window partitions by event_type — bounded partitions.
    At 100 TB the daily matrix is tiny regardless of raw volume.
    """
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events")
    daily = (ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("x")))
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-3, 3))
    arr = F.array_sort(F.collect_list(F.col("x")).over(w))
    med2 = ("element_at(a, cast((size(a) + 1) div 2 as int))"
            " + element_at(a, cast((size(a) + 2) div 2 as int))")
    out = (daily.withColumn("a", arr)
           .withColumn("m2", F.expr(med2))
           .withColumn("d", F.expr(
               "array_sort(transform(a, v -> abs(2 * v - m2)))"))
           .withColumn("mad2d", F.expr(
               "element_at(d, cast((size(d) + 1) div 2 as int))"
               " + element_at(d, cast((size(d) + 2) div 2 as int))"))
           .select("event_type", "day", "x",
                   "m2", "mad2d",
                   F.expr("CASE WHEN 20000 * abs(2 * x - m2)"
                          " > 44478 * mad2d THEN 1 ELSE 0 END")
                   .alias("is_outlier")))
    return out


_HAMPEL_SQL = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
win AS (
  SELECT event_type, day, x,
         list_sort(list(x) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 3 PRECEDING
                                 AND 3 FOLLOWING)) AS a
  FROM daily
),
med AS (
  SELECT event_type, day, x,
         a[(len(a) + 1) // 2] + a[(len(a) + 2) // 2] AS m2, a
  FROM win
),
dev AS (
  SELECT event_type, day, x, m2,
         list_sort(list_transform(a, v -> abs(2 * v - m2))) AS d
  FROM med
)
SELECT event_type, day, x, m2,
       d[(len(d) + 1) // 2] + d[(len(d) + 2) // 2] AS mad2d,
       CASE WHEN 20000 * abs(2 * x - m2)
                 > 44478 * (d[(len(d) + 1) // 2] + d[(len(d) + 2) // 2])
            THEN 1 ELSE 0 END AS is_outlier
FROM dev
"""


# --------------------------------------------------------------------------
# shard_diversity_index: per-shard source-mix health gate
# --------------------------------------------------------------------------

_DIV_SHARDS = 16


def _shard_diversity_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-diversity audit per training shard: docs land in one of
    16 md5-derived shards; each shard reports richness (distinct
    sources), dominance (largest source's share) and Simpson's
    diversity 1 − Σ nᵢ(nᵢ−1)/(N(N−1)) — the gate that catches a
    sharder accidentally clustering one crawl into one shard (bad
    for data-parallel training).

    Determinism: shard = md5(doc_id) hex prefix mod 16 (identical
    text in both engines); Simpson and dominance are exact e6
    rationals — integer-only output.

    Scale: one shuffle to (shard, source) counts (map-side
    combinable), then a 16·S-row rollup. Shard count is a constant —
    independent of corpus size.
    """
    docs = load(spark, sf_dir, "documents")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
               16, 10).cast("long"), F.lit(_DIV_SHARDS))
    per = (docs.select(shard.alias("shard"), "source")
           .groupBy("shard", "source")
           .agg(F.count(F.lit(1)).alias("n")))
    return (per.groupBy("shard")
            .agg(F.count(F.lit(1)).alias("n_sources"),
                 F.sum("n").alias("n_docs"),
                 F.max("n").alias("nmax"),
                 F.sum(F.col("n") * (F.col("n") - 1)).alias("sq"))
            .select("shard", "n_sources", "n_docs",
                    F.expr("1000000 * nmax div n_docs").alias("dominance_e6"),
                    F.expr("CASE WHEN n_docs < 2 THEN 0"
                           " ELSE 1000000 - (1000000 * sq)"
                           " div (n_docs * (n_docs - 1)) END")
                    .alias("simpson_e6")))


_DIVERSITY_SQL = f"""
WITH per AS (
  SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) % {_DIV_SHARDS} AS shard,
         source, CAST(count(*) AS BIGINT) AS n
  FROM documents GROUP BY 1, 2
),
agg AS (
  SELECT shard, CAST(count(*) AS BIGINT) AS n_sources,
         CAST(sum(n) AS BIGINT) AS n_docs,
         CAST(max(n) AS BIGINT) AS nmax,
         CAST(sum(n * (n - 1)) AS BIGINT) AS sq
  FROM per GROUP BY shard
)
SELECT shard, n_sources, n_docs,
       1000000 * nmax // n_docs AS dominance_e6,
       CASE WHEN n_docs < 2 THEN 0
            ELSE 1000000 - (1000000 * sq) // (n_docs * (n_docs - 1)) END
           AS simpson_e6
FROM agg
"""


# --------------------------------------------------------------------------
# did_estimator: difference-in-differences on the event stream
# --------------------------------------------------------------------------

def _did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences point estimate over events: treatment
    = odd user_id, periods split at the midpoint day of the observed
    range, outcome = event value. DiD = (post_T − pre_T) − (post_C −
    pre_C) on group means — the classic quasi-experimental readout
    (companion to ab_test_ztest / stratified_att_estimate which
    randomize rather than difference out trends).

    Determinism: values enter as floor-cents (floor of a
    bit-identical double product is engine-safe); every mean is
    (10000·Σcents) div n — exact e6 integers end to end. The split
    day derives from min/max (never a constant, CLAUDE.md id rule).

    Scale: one scan, one map-side-combinable 4-group aggregate; the
    min/max split rides the same scan via a broadcast 1-row join.
    """
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"),
        (F.col("user_id") % 2 == 1).cast("int").alias("treat"),
        F.expr("CAST(floor(value * 100) AS BIGINT)").alias("cents"))
    split = base.agg(
        F.expr("(min(day) + max(day)) div 2").alias("split_day"))
    cells = (base.crossJoin(F.broadcast(split))
             .groupBy("treat",
                      (F.col("day") > F.col("split_day"))
                      .cast("int").alias("post"))
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("cents").alias("s"))
             .select("treat", "post", "n",
                     F.expr("(10000 * s) div n").alias("mean_e6")))
    w = cells.select(F.expr(
        "CASE WHEN treat = 1 AND post = 1 THEN 'post_t'"
        " WHEN treat = 1 THEN 'pre_t'"
        " WHEN post = 1 THEN 'post_c' ELSE 'pre_c' END").alias("cell"),
        "n", "mean_e6")
    return (w.groupBy()
            .agg(F.sum("n").alias("n_events"),
                 F.sum(F.when(F.col("cell") == "pre_t",
                              F.col("mean_e6"))).alias("pre_t_e6"),
                 F.sum(F.when(F.col("cell") == "post_t",
                              F.col("mean_e6"))).alias("post_t_e6"),
                 F.sum(F.when(F.col("cell") == "pre_c",
                              F.col("mean_e6"))).alias("pre_c_e6"),
                 F.sum(F.when(F.col("cell") == "post_c",
                              F.col("mean_e6"))).alias("post_c_e6"))
            .select("n_events", "pre_t_e6", "post_t_e6",
                    "pre_c_e6", "post_c_e6",
                    ((F.col("post_t_e6") - F.col("pre_t_e6"))
                     - (F.col("post_c_e6") - F.col("pre_c_e6")))
                    .alias("did_e6")))


_DID_SQL = """
WITH base AS (
  SELECT epoch_us(ts) // 86400000000 AS day,
         CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
         CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events
),
split AS (SELECT (min(day) + max(day)) // 2 AS split_day FROM base),
cells AS (
  SELECT treat, CASE WHEN day > split_day THEN 1 ELSE 0 END AS post,
         CAST(count(*) AS BIGINT) AS n,
         (10000 * CAST(sum(cents) AS BIGINT))
             // CAST(count(*) AS BIGINT) AS mean_e6
  FROM base, split GROUP BY 1, 2
),
w AS (
  SELECT CASE WHEN treat = 1 AND post = 1 THEN 'post_t'
              WHEN treat = 1 THEN 'pre_t'
              WHEN post = 1 THEN 'post_c' ELSE 'pre_c' END AS cell,
         n, mean_e6
  FROM cells
)
SELECT CAST(sum(n) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN cell = 'pre_t' THEN mean_e6 END) AS BIGINT)
           AS pre_t_e6,
       CAST(sum(CASE WHEN cell = 'post_t' THEN mean_e6 END) AS BIGINT)
           AS post_t_e6,
       CAST(sum(CASE WHEN cell = 'pre_c' THEN mean_e6 END) AS BIGINT)
           AS pre_c_e6,
       CAST(sum(CASE WHEN cell = 'post_c' THEN mean_e6 END) AS BIGINT)
           AS post_c_e6,
       CAST((sum(CASE WHEN cell = 'post_t' THEN mean_e6 END)
             - sum(CASE WHEN cell = 'pre_t' THEN mean_e6 END))
            - (sum(CASE WHEN cell = 'post_c' THEN mean_e6 END)
               - sum(CASE WHEN cell = 'pre_c' THEN mean_e6 END))
           AS BIGINT) AS did_e6
FROM w
"""


# --------------------------------------------------------------------------
# markov_next_event_eval: temporal-split top-1 next-event accuracy
# --------------------------------------------------------------------------

def _markov_next_event_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out evaluation of the first-order Markov next-event model:
    train transition counts on the first half of the day range,
    predict argmax(to | from), score top-1 accuracy on the second
    half — the eval loop event_transition_matrix lacks (a transition
    matrix without held-out accuracy is a description, not a model).

    Determinism: the argmax ties break by event_type ASC via
    struct-min (min_by tie-break is undefined, CLAUDE.md); the
    train/test boundary derives from min/max day; accuracy is an
    exact e6 rational. Consecutive pairs order by (ts, event_id).

    Scale: one shuffle to order each user's stream (window lag), one
    map-side-combinable count per (from, to); the learned model is
    |event types|² rows — broadcast to score the test pairs.
    """
    from pyspark.sql import Window
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"))
    nxt = Window.partitionBy("user_id").orderBy("tus", "event_id")
    pairs = (base
             .withColumn("nxt", F.lead("event_type").over(nxt))
             .where(F.col("nxt").isNotNull())
             .select(F.col("event_type").alias("frm"), "nxt", "day"))
    split = pairs.agg(
        F.expr("(min(day) + max(day)) div 2").alias("split_day"))
    pairs = pairs.crossJoin(F.broadcast(split))
    train = pairs.where(F.col("day") <= F.col("split_day"))
    test = pairs.where(F.col("day") > F.col("split_day"))
    model = (train.groupBy("frm", "nxt")
             .agg(F.count(F.lit(1)).alias("c"))
             .groupBy("frm")
             .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                 F.col("nxt").alias("t")))
                  .getField("t").alias("predicted")))
    return (test.join(F.broadcast(model), "frm", "left")
            .groupBy("frm", "predicted")
            .agg(F.count(F.lit(1)).alias("n_test"),
                 # when/otherwise(0), not a bare cast: a frm with no
                 # train model row has NULL predicted, and sum over
                 # all-NULL is NULL while the oracle's CASE ELSE 0
                 # yields 0 (ADVICE r06).
                 F.sum(F.when(F.col("nxt") == F.col("predicted"), 1)
                       .otherwise(0)).alias("hits"))
            .select("frm", "predicted", "n_test", "hits",
                    F.expr("1000000 * hits div n_test").alias("acc_e6")))


_MARKOV_EVAL_SQL = """
WITH base AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
pairs AS (
  SELECT event_type AS frm,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY tus, event_id) AS nxt,
         day
  FROM base
),
pairs_ne AS (SELECT * FROM pairs WHERE nxt IS NOT NULL),
split AS (SELECT (min(day) + max(day)) // 2 AS split_day FROM pairs_ne),
train AS (SELECT frm, nxt FROM pairs_ne, split WHERE day <= split_day),
test AS (SELECT frm, nxt FROM pairs_ne, split WHERE day > split_day),
model AS (
  SELECT frm,
         (min(struct_pack(nc := -c, t := nxt))).t AS predicted
  FROM (SELECT frm, nxt, CAST(count(*) AS BIGINT) AS c
        FROM train GROUP BY 1, 2)
  GROUP BY frm
)
SELECT t.frm, m.predicted,
       CAST(count(*) AS BIGINT) AS n_test,
       CAST(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
            AS BIGINT) AS hits,
       1000000 * CAST(sum(CASE WHEN t.nxt = m.predicted THEN 1 ELSE 0 END)
                      AS BIGINT) // CAST(count(*) AS BIGINT) AS acc_e6
FROM test t LEFT JOIN model m ON t.frm = m.frm
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# contrastive_pair_batches: deterministic in-batch negative construction
# --------------------------------------------------------------------------

_CB_BATCHES = 8


def _contrastive_pair_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-batch construction: every doc is an anchor
    with (a) a positive — its same-source successor by doc_id (the
    related-pair heuristic the ROUGE/BLEU evals score) and (b) up to 3
    in-batch negatives — the next docs in its md5-shuffled batch that
    come from a DIFFERENT source. This is the batch layout a CLIP/
    SimCSE-style trainer consumes; building it inside the engine means
    the expensive negative-mining never leaves the cluster.

    Determinism: batch id and in-batch order both derive from
    md5(doc_id); negatives are positional leads in that order (ties
    impossible — md5 order is total with the doc_id tiebreak), nulled
    when the lead shares the anchor's source or runs off the batch
    tail.

    Scale: no pairwise join anywhere — two window passes (one over
    source for positives, one over batch for negatives), each a
    single hash shuffle on a bounded key. Batch count is a constant;
    batch SIZE grows with the corpus but the window only ever looks 3
    rows ahead (WindowExec streams, never materializes the frame).
    """
    from pyspark.sql import Window
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12),
               16, 10).cast("long")
    base = docs.select("doc_id", "source", h.alias("h"),
                       F.pmod(h, F.lit(_CB_BATCHES)).alias("batch"))
    pos_w = Window.partitionBy("source").orderBy("doc_id")
    neg_w = Window.partitionBy("batch").orderBy("h", "doc_id")
    out = base.withColumn("pos_id", F.lead("doc_id").over(pos_w))
    for i in (1, 2, 3):
        out = (out
               .withColumn(f"_n{i}", F.lead("doc_id", i).over(neg_w))
               .withColumn(f"_s{i}", F.lead("source", i).over(neg_w))
               .withColumn(f"neg{i}", F.when(
                   F.col(f"_s{i}") != F.col("source"),
                   F.col(f"_n{i}"))))
    return (out.select(
        F.col("doc_id").alias("anchor_id"), "batch", "pos_id",
        "neg1", "neg2", "neg3",
        (F.col("neg1").isNotNull().cast("int")
         + F.col("neg2").isNotNull().cast("int")
         + F.col("neg3").isNotNull().cast("int")).alias("n_valid_negs")))


_CONTRASTIVE_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
              AS BIGINT) AS h
  FROM documents
),
b2 AS (SELECT *, h % {_CB_BATCHES} AS batch FROM base),
w AS (
  SELECT doc_id, source, batch,
         lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id) AS pos_id,
         lead(doc_id, 1) OVER nw AS n1, lead(source, 1) OVER nw AS s1,
         lead(doc_id, 2) OVER nw AS n2, lead(source, 2) OVER nw AS s2,
         lead(doc_id, 3) OVER nw AS n3, lead(source, 3) OVER nw AS s3
  FROM b2
  WINDOW nw AS (PARTITION BY batch ORDER BY h, doc_id)
)
SELECT doc_id AS anchor_id, batch, pos_id,
       CASE WHEN s1 <> source THEN n1 END AS neg1,
       CASE WHEN s2 <> source THEN n2 END AS neg2,
       CASE WHEN s3 <> source THEN n3 END AS neg3,
       (CASE WHEN s1 <> source THEN 1 ELSE 0 END
        + CASE WHEN s2 <> source THEN 1 ELSE 0 END
        + CASE WHEN s3 <> source THEN 1 ELSE 0 END) AS n_valid_negs
FROM w
"""


# --------------------------------------------------------------------------
# behavior_alignment_score: LCS self-alignment of each user's two halves
# --------------------------------------------------------------------------

_LCS_CAP = 40
# alphabetical event-type codes, inlined identically in both engines
_LCS_CODE = ("CASE x.x WHEN 'click' THEN 1 WHEN 'error' THEN 2"
             " WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4"
             " WHEN 'view' THEN 5 ELSE 0 END")


def _behavior_alignment_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral consistency per user: the longest common subsequence
    between the user's event-type sequence in the FIRST half of the
    observed day range and the SECOND half, normalized to
    2·LCS/(|A|+|B|) — a drift detector that is order-aware where the
    Markov eval is only pairwise (a user who reordered their whole
    routine scores low here even if every bigram still occurs).

    Determinism: the full O(|A|·|B|) LCS table runs as a fold-of-folds
    — outer fold over A carries the previous DP ROW as a list<bigint>
    accumulator, the inner fold over B's positions grows the next row.
    Both accumulators are single list values (self-read only), so
    DuckDB's struct-field aliasing hazard never arises; sequences sort
    by (ts, event_id) and cap at {cap} events per half (bounds the DP
    at {cap}² cells per user). Users need both halves non-empty —
    Spark's sequence(1, 0) counts DOWN, so the empty-B guard is
    correctness, not just efficiency.

    Scale: one shuffle to group events per user; the DP is scan-fused
    per user with constant-bounded state ({cap}+1 int64s). At 100 TB
    the cost is linear in users; no joins, no second corpus pass (the
    split day broadcasts from a 1-row aggregate).
    """.format(cap=_LCS_CAP)
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.struct(F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                 F.col("event_id").alias("i"),
                 F.col("event_type").alias("x")).alias("s"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day"))
    split = base.agg(
        F.expr("(min(day) + max(day)) div 2").alias("split_day"))
    seq = (base.crossJoin(F.broadcast(split))
           .groupBy("user_id")
           .agg(F.array_sort(F.collect_list(
               F.when(F.col("day") <= F.col("split_day"), F.col("s"))))
               .alias("xa"),
               F.array_sort(F.collect_list(
                   F.when(F.col("day") > F.col("split_day"), F.col("s"))))
               .alias("xb")))
    enc = (f"slice(transform(XS, x -> cast({_LCS_CODE} as bigint)),"
           f" 1, {_LCS_CAP})")
    two = (seq.select("user_id",
                      F.expr(enc.replace("XS", "xa")).alias("a"),
                      F.expr(enc.replace("XS", "xb")).alias("b"))
           .where((F.size("a") >= 1) & (F.size("b") >= 1)))
    lcs = ("element_at(aggregate(a,"
           " transform(sequence(0, size(b)), z -> cast(0 as bigint)),"
           " (prev, ac) -> aggregate(sequence(1, size(b)),"
           "   array(cast(0 as bigint)),"
           "   (cur, j) -> concat(cur, array(greatest("
           "     element_at(prev, j + 1),"
           "     element_at(cur, j),"
           "     element_at(prev, j)"
           "       + IF(element_at(b, j) = ac, cast(1 as bigint),"
           "            cast(0 as bigint))))))), size(b) + 1)")
    return (two.select("user_id",
                       F.size("a").alias("n_a"), F.size("b").alias("n_b"),
                       F.expr(lcs).alias("lcs_len"))
            .withColumn("consistency_e6", F.expr(
                "2000000 * lcs_len div (n_a + n_b)")))


def _behavior_alignment_sql() -> str:
    code = _LCS_CODE
    return f"""
WITH base AS (
  SELECT user_id,
         struct_pack(t := epoch_us(ts), i := event_id,
                     x := event_type) AS s,
         epoch_us(ts) // 86400000000 AS day
  FROM events
),
split AS (SELECT (min(day) + max(day)) // 2 AS split_day FROM base),
seq AS (
  SELECT user_id,
         list_sort(list(s) FILTER (WHERE day <= split_day)) AS xa,
         list_sort(list(s) FILTER (WHERE day > split_day)) AS xb
  FROM base, split GROUP BY user_id
),
two AS (
  SELECT user_id,
         list_transform(xa, x -> CAST({code} AS BIGINT))[1:{_LCS_CAP}] AS a,
         list_transform(xb, x -> CAST({code} AS BIGINT))[1:{_LCS_CAP}] AS b
  FROM seq
  WHERE len(xa) >= 1 AND len(xb) >= 1
),
dp AS (
  SELECT user_id, CAST(len(a) AS INT) AS n_a, CAST(len(b) AS INT) AS n_b,
         list_reduce(
           list_prepend(
             list_transform(range(0, len(b) + 1), z -> CAST(0 AS BIGINT)),
             list_transform(a, c -> [c])),
           (prev, ac) -> list_reduce(
             list_prepend([CAST(0 AS BIGINT)],
                          list_transform(range(1, len(b) + 1),
                                         j -> [j, b[j]])),
             (cur, x) -> list_append(cur, greatest(
               prev[x[1] + 1],
               cur[x[1]],
               prev[x[1]] + CASE WHEN x[2] = ac[1]
                                 THEN 1 ELSE 0 END))))[len(b) + 1]
             AS lcs_len
  FROM two
)
SELECT user_id, n_a, n_b, lcs_len,
       2000000 * lcs_len // (n_a + n_b) AS consistency_e6
FROM dp
"""


# --------------------------------------------------------------------------
# trajectory_similarity_topk: top-k users most similar to a probe trajectory
# --------------------------------------------------------------------------

_TRAJ_K = 10


def _trajectory_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k trajectory similarity search (REPOSE, ICDE
    2021 — PAPERS.md — solves this for spatial trajectories with
    reference-point tries; here the trajectory alphabet is the event
    vocabulary, so the exact LCS kernel from behavior_alignment_score
    is the similarity): find the {k} users whose event-type sequences
    are most LCS-similar to the probe user's (the lowest user_id —
    derived, never a constant). sim_e6 = 2e6·LCS/(|A|+|B|).

    Determinism: same fold-of-folds integer DP as
    behavior_alignment_score; top-k orders by (sim DESC, user_id).

    Scale: the probe sequence is a 1-row broadcast; every user folds
    against it independently (linear in users, zero joins between
    users); the top-k is a TakeOrdered, never a global sort. At
    100 TB this is the canonical broadcast-probe search shape — the
    REPOSE trie would only be needed for probe SETS large enough
    that per-user × per-probe folds dominate.
    """.format(k=_TRAJ_K)
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        F.struct(F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
                 F.col("event_id").alias("i"),
                 F.col("event_type").alias("x")).alias("s"))
    enc = (f"slice(transform(array_sort(xs),"
           f" x -> cast({_LCS_CODE} as bigint)), 1, {_LCS_CAP})")
    seqs = (base.groupBy("user_id")
            .agg(F.collect_list("s").alias("xs"))
            .select("user_id", F.expr(enc).alias("a")))
    probe = (seqs.orderBy("user_id").limit(1)
             .select(F.col("user_id").alias("probe_id"),
                     F.col("a").alias("b")))
    lcs = ("element_at(aggregate(a,"
           " transform(sequence(0, size(b)), z -> cast(0 as bigint)),"
           " (prev, ac) -> aggregate(sequence(1, size(b)),"
           "   array(cast(0 as bigint)),"
           "   (cur, j) -> concat(cur, array(greatest("
           "     element_at(prev, j + 1),"
           "     element_at(cur, j),"
           "     element_at(prev, j)"
           "       + IF(element_at(b, j) = ac, cast(1 as bigint),"
           "            cast(0 as bigint))))))), size(b) + 1)")
    scored = (seqs.crossJoin(F.broadcast(probe))
              .where(F.col("user_id") != F.col("probe_id"))
              .select("user_id", "probe_id",
                      F.size("a").alias("n_a"), F.size("b").alias("n_b"),
                      F.expr(lcs).alias("lcs_len"))
              .withColumn("sim_e6", F.expr(
                  "2000000 * lcs_len div (n_a + n_b)")))
    return (scored.orderBy(F.desc("sim_e6"), "user_id").limit(_TRAJ_K)
            .select("probe_id", "user_id", "n_a", "n_b",
                    "lcs_len", "sim_e6"))


def _trajectory_sql() -> str:
    code = _LCS_CODE
    return f"""
WITH base AS (
  SELECT user_id,
         struct_pack(t := epoch_us(ts), i := event_id,
                     x := event_type) AS s
  FROM events
),
seqs AS (
  SELECT user_id,
         list_transform(list_sort(list(s)),
                        x -> CAST({code} AS BIGINT))[1:{_LCS_CAP}] AS a
  FROM base GROUP BY user_id
),
probe AS (
  SELECT user_id AS probe_id, a AS b
  FROM seqs ORDER BY user_id LIMIT 1
),
scored AS (
  SELECT s.user_id, p.probe_id,
         CAST(len(s.a) AS INT) AS n_a, CAST(len(p.b) AS INT) AS n_b,
         list_reduce(
           list_prepend(
             list_transform(range(0, len(p.b) + 1),
                            z -> CAST(0 AS BIGINT)),
             list_transform(s.a, c -> [c])),
           (prev, ac) -> list_reduce(
             list_prepend([CAST(0 AS BIGINT)],
                          list_transform(range(1, len(p.b) + 1),
                                         j -> [j, p.b[j]])),
             (cur, x) -> list_append(cur, greatest(
               prev[x[1] + 1],
               cur[x[1]],
               prev[x[1]] + CASE WHEN x[2] = ac[1]
                                 THEN 1 ELSE 0 END))))[len(p.b) + 1]
             AS lcs_len
  FROM seqs s, probe p
  WHERE s.user_id <> p.probe_id
)
SELECT probe_id, user_id, n_a, n_b, lcs_len,
       2000000 * lcs_len // (n_a + n_b) AS sim_e6
FROM scored
ORDER BY sim_e6 DESC, user_id LIMIT {_TRAJ_K}
"""


# --------------------------------------------------------------------------
# cardinality_estimate_eval: optimizer-style selectivity estimates vs truth
# --------------------------------------------------------------------------

_CARD_QTY = (1, 25, 45)


def _cardinality_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cardinality-estimation quality audit: for the 18 conjunctive
    predicates (l_returnflag × l_linestatus × l_quantity ≥ q), compare
    the textbook independence-assumption estimate |T|·P(rf)·P(ls)·
    P(qty≥q) — what a cost-based optimizer without multi-column stats
    would plan with — against the TRUE count, reporting the q-error
    max(est,true)/min(est,true) per predicate. The engine-self-eval
    that motivates learned estimators (PAPERS.md, SIGMOD 2021) and,
    operationally, tells you which predicate families need multi-
    column statistics.

    Determinism: estimates are nested integer floors
    ((c_rf·c_ls div N)·c_q div N); q-error is an e6 integer with a
    zero-floor guard (est 0 → sentinel error 1e12).

    Scale: ONE pass over the fact table produces both the true
    grid (conditional sums per (rf, ls)) and every marginal; the
    6-row grid is PERSISTED because it feeds four plan branches
    (tot/rf/ls/rows — without the persist each branch re-scans the
    fact table, the CLAUDE.md multi-branch hazard); released via
    tables.release.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity")
    qty_sums = [F.sum((F.col("l_quantity") >= q).cast("long"))
                .alias(f"t{q}") for q in _CARD_QTY]
    grid = persist(li.groupBy("l_returnflag", "l_linestatus")
                   .agg(F.count(F.lit(1)).alias("n_cell"), *qty_sums))
    tot = grid.agg(
        F.sum("n_cell").alias("n"),
        *[F.sum(f"t{q}").alias(f"g{q}") for q in _CARD_QTY])
    rf = grid.groupBy("l_returnflag").agg(F.sum("n_cell").alias("c_rf"))
    ls = grid.groupBy("l_linestatus").agg(F.sum("n_cell").alias("c_ls"))
    arms = F.explode(F.array(*[
        F.struct(F.lit(q).alias("qty_ge"), F.col(f"t{q}").alias("true_n"),
                 F.col(f"g{q}").alias("c_q"))
        for q in _CARD_QTY])).alias("a")
    rows = (grid.join(F.broadcast(rf), "l_returnflag")
            .join(F.broadcast(ls), "l_linestatus")
            .crossJoin(F.broadcast(tot))
            .select("l_returnflag", "l_linestatus", "c_rf", "c_ls", "n",
                    arms)
            .select("l_returnflag", "l_linestatus",
                    F.col("a.qty_ge").alias("qty_ge"),
                    F.col("a.true_n").alias("true_n"),
                    F.expr("((c_rf * c_ls) div n) * a.c_q div n")
                    .alias("est_n")))
    return rows.withColumn("qerror_e6", F.expr(
        "CASE WHEN least(est_n, true_n) = 0 THEN 1000000000000"
        " ELSE 1000000 * greatest(est_n, true_n)"
        " div least(est_n, true_n) END"))


def _cardinality_sql() -> str:
    qty_cols = ", ".join(
        f"CAST(sum(CASE WHEN l_quantity >= {q} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS t{q}" for q in _CARD_QTY)
    g_cols = ", ".join(f"CAST(sum(t{q}) AS BIGINT) AS g{q}"
                       for q in _CARD_QTY)
    arms = " UNION ALL ".join(
        f"SELECT l_returnflag, l_linestatus, {q} AS qty_ge,"
        f" t{q} AS true_n, g{q} AS c_q FROM grid, tot"
        for q in _CARD_QTY)
    return f"""
WITH grid AS (
  SELECT l_returnflag, l_linestatus,
         CAST(count(*) AS BIGINT) AS n_cell, {qty_cols}
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_cell) AS BIGINT) AS n, {g_cols} FROM grid),
rf AS (SELECT l_returnflag, CAST(sum(n_cell) AS BIGINT) AS c_rf
       FROM grid GROUP BY 1),
ls AS (SELECT l_linestatus, CAST(sum(n_cell) AS BIGINT) AS c_ls
       FROM grid GROUP BY 1),
arms AS ({arms}),
rows_ AS (
  SELECT a.l_returnflag, a.l_linestatus, a.qty_ge, a.true_n,
         ((rf.c_rf * ls.c_ls) // t.n) * a.c_q // t.n AS est_n
  FROM arms a
  JOIN rf ON a.l_returnflag = rf.l_returnflag
  JOIN ls ON a.l_linestatus = ls.l_linestatus
  CROSS JOIN tot t
)
SELECT l_returnflag, l_linestatus, qty_ge, true_n, est_n,
       CASE WHEN least(est_n, true_n) = 0 THEN 1000000000000
            ELSE 1000000 * greatest(est_n, true_n)
                 // least(est_n, true_n) END AS qerror_e6
FROM rows_
"""


# --------------------------------------------------------------------------
# bitext_candidate_mining: cross-lingual pair candidates via rare bigrams
# --------------------------------------------------------------------------

_BITEXT_MAX_GRAM_FREQ = 4
_BITEXT_MIN_SHARED = 1


def _bitext_candidate_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual parallel-text candidates: doc pairs in DIFFERENT
    languages sharing ≥ {m} RARE word bigrams (corpus frequency ≤
    {f}) — the cheap blocking stage of bitext mining (names, numbers
    and rare phrases survive translation; margin-based embedding
    scoring refines candidates downstream, cf. embedding_neardup).

    Determinism: gram keys are 16-byte unhex(md5) (CLAUDE.md text-key
    rule); pairs order (a < b); counts exact.

    Scale: the frequency ceiling bounds every gram bucket at {f}
    docs, so the self-join emits ≤ {f}·({f}−1)/2 pairs per gram —
    linear in corpus size BY CONSTRUCTION (same discipline as the
    LSH band joins, which cap buckets instead of hoping).
    """.format(m=_BITEXT_MIN_SHARED, f=_BITEXT_MAX_GRAM_FREQ)
    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", "lang",
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws"))
    grams = (words.select(
        "doc_id", "lang",
        F.explode(F.expr(
            "transform(slice(ws, 1, greatest(size(ws) - 1, 0)),"
            " (w, i) -> concat(w, ' ', ws[i + 1]))")).alias("g"))
        .select("doc_id", "lang", F.unhex(F.md5("g")).alias("gk"))
        .distinct())
    rare = (grams.groupBy("gk")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= _BITEXT_MAX_GRAM_FREQ)
            .select("gk"))
    rg = grams.join(rare, "gk")
    a, b = rg.alias("a"), rg.alias("b")
    return (a.join(b, (F.col("a.gk") == F.col("b.gk"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.col("a.lang") != F.col("b.lang")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"),
                     F.col("a.lang").alias("lang_a"),
                     F.col("b.lang").alias("lang_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .where(F.col("n_shared") >= _BITEXT_MIN_SHARED))


_BITEXT_SQL = rf"""
WITH words AS (
  SELECT doc_id, lang,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, lang, unhex(md5(g)) AS gk
  FROM (SELECT doc_id, lang,
               unnest(list_transform(range(1, greatest(len(ws), 1)),
                      i -> ws[i] || ' ' || ws[i + 1])) AS g
        FROM words)
),
rare AS (
  SELECT gk FROM grams GROUP BY gk
  HAVING count(*) <= {_BITEXT_MAX_GRAM_FREQ}
),
rg AS (SELECT g.* FROM grams g JOIN rare r ON g.gk = r.gk)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       a.lang AS lang_a, b.lang AS lang_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM rg a JOIN rg b
  ON a.gk = b.gk AND a.doc_id < b.doc_id AND a.lang <> b.lang
GROUP BY 1, 2, 3, 4
HAVING count(*) >= {_BITEXT_MIN_SHARED}
"""


QUERIES = {
    "retrieval_ranking_metrics": (_retrieval_ranking_metrics, _RANKING_SQL),
    "did_estimator": (_did_estimator, _DID_SQL),
    "markov_next_event_eval": (_markov_next_event_eval, _MARKOV_EVAL_SQL),
    "contrastive_pair_batches": (_contrastive_pair_batches,
                                 _CONTRASTIVE_SQL),
    "behavior_alignment_score": (_behavior_alignment_score,
                                 _behavior_alignment_sql()),
    "trajectory_similarity_topk": (_trajectory_similarity_topk,
                                   _trajectory_sql()),
    "cardinality_estimate_eval": (_cardinality_estimate_eval,
                                  _cardinality_sql()),
    "bitext_candidate_mining": (_bitext_candidate_mining, _BITEXT_SQL),
    "rouge_overlap_eval": (_rouge_overlap_eval, _ROUGE_SQL),
    "bleu_ngram_eval": (_bleu_ngram_eval, _BLEU_SQL),
    "viterbi_state_decode": (_viterbi_state_decode, _viterbi_sql()),
    "hampel_outlier_filter": (_hampel_outlier_filter, _HAMPEL_SQL),
    "shard_diversity_index": (_shard_diversity_index, _DIVERSITY_SQL),
}


# --------------------------------------------------------------------------
# krippendorff_alpha_nominal: multi-rater agreement (3 raters, no gaps)
# --------------------------------------------------------------------------
KR_RATERS = 3
KR_LABELS = 4
KR_NOISE_MOD = 5       # ~1/5 of each rater's labels replaced by noise


def _kr_label(j: int, engine: str) -> str:
    """Rater j's label for a doc: the doc's length-residue class
    (n_chars % KR_LABELS — spread across all labels, so chance
    agreement stays near 1/KR_LABELS and alpha is informative), with
    a seeded-md5 noise replacement on ~1/KR_NOISE_MOD of units (per
    rater)."""
    base = f"(n_chars % {KR_LABELS})"
    if engine == "spark":
        h = (f"cast(conv(substr(md5(concat('kr{{s}}{j}:',"
             f" cast(doc_id as string))), 1, 12), 16, 10) as bigint)")
        base = base.replace("//", " div ")
    else:
        h = (f"CAST('0x' || substr(md5('kr{{s}}{j}:'"
             f" || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)")
    gate, noise = h.format(s="g"), h.format(s="l")
    return (f"(CASE WHEN ({gate}) % {KR_NOISE_MOD} = 0"
            f" THEN ({noise}) % {KR_LABELS} ELSE {base} END)")


def _krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, complete data) over
    ``KR_RATERS`` deterministic pseudo-raters labeling every document
    (length bucket + seeded disagreement noise — the synthetic-rater
    pattern of cohens_kappa_agreement, generalized to >2 raters):
    alpha = 1 − (N−1)·Σ_{v≠v'} o_vv' / (ΣΣ n_v·n_v'), computed
    entirely in integer space via the identity Σ_{v≠v'} c_v·c_v' =
    m² − Σ c_v² per unit (no pair join at all), floored at e6 with
    the sign-safe idiom (alpha can be negative).

    Scale: one scan explodes to 3 labels/doc; two map-side
    aggregates — per-(unit,label) counts, then global sums; the
    final row is pure integer arithmetic.
    """
    labels = [F.expr(_kr_label(j, "spark")).alias(f"l{j}")
              for j in range(KR_RATERS)]
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars") \
        .select("doc_id", *labels)
    rated = docs.select(
        "doc_id", F.explode(F.array(*[F.col(f"l{j}")
                                      for j in range(KR_RATERS)]))
        .alias("label"))
    cu = (rated.groupBy("doc_id", "label")
          .agg(F.count(F.lit(1)).cast("long").alias("c")))
    per_unit = (cu.groupBy("doc_id")
                .agg((F.lit(KR_RATERS * KR_RATERS)
                      - F.sum(F.col("c") * F.col("c"))).alias("dis2")))
    o2s = per_unit.agg(F.sum("dis2").cast("long").alias("o2s"),
                       F.count(F.lit(1)).cast("long").alias("units"))
    nv = (cu.groupBy("label").agg(F.sum("c").cast("long").alias("nv"))
          .agg(F.sum("nv").cast("long").alias("nn"),
               F.sum(F.col("nv") * F.col("nv")).cast("long").alias("sq")))
    return (o2s.crossJoin(F.broadcast(nv))
            .select("units", "nn", F.col("o2s").alias("d_o_x2"),
                    (F.col("nn") * F.col("nn") - F.col("sq")).alias("p_pairs"),
                    F.expr("(1000000 * (2 * (nn * nn - sq)"
                           " - (nn - 1) * o2s)"
                           " - pmod(1000000 * (2 * (nn * nn - sq)"
                           " - (nn - 1) * o2s), 2 * (nn * nn - sq)))"
                           " div (2 * (nn * nn - sq))")
                     .alias("alpha_e6")))


def _kr_sql() -> str:
    labels = " UNION ALL ".join(
        f"SELECT doc_id, {_kr_label(j, 'duck')} AS label FROM documents"
        for j in range(KR_RATERS))
    return f"""
WITH rated AS ({labels}),
cu AS (
  SELECT doc_id, label, CAST(count(*) AS BIGINT) AS c
  FROM rated GROUP BY 1, 2
),
o2s AS (
  SELECT CAST(sum(dis2) AS BIGINT) AS o2s,
         CAST(count(*) AS BIGINT) AS units
  FROM (SELECT doc_id, {KR_RATERS * KR_RATERS} - sum(c * c) AS dis2
        FROM cu GROUP BY 1)
),
nv AS (
  SELECT CAST(sum(nv) AS BIGINT) AS nn,
         CAST(sum(nv * nv) AS BIGINT) AS sq
  FROM (SELECT label, sum(c) AS nv FROM cu GROUP BY 1)
)
SELECT units, nn, o2s AS d_o_x2,
       nn * nn - sq AS p_pairs,
       -- explicit floor division (numerator can be negative; DuckDB's
       -- BIGINT // truncates toward zero there, unlike its float //)
       (num - (((num % den) + den) % den)) // den AS alpha_e6
FROM (
  SELECT units, nn, o2s,
         (nn * nn - sq) AS sq_pairs,
         1000000 * (2 * (nn * nn - sq) - (nn - 1) * o2s) AS num,
         2 * (nn * nn - sq) AS den, sq
  FROM o2s CROSS JOIN nv
)
"""


QUERIES["krippendorff_alpha_nominal"] = (
    _krippendorff_alpha, _kr_sql())


# --------------------------------------------------------------------------
# pass_at_k_estimator: the unbiased HumanEval pass@k over sampled attempts
# --------------------------------------------------------------------------
PK_N = 10              # attempts per task
PK_KS = (1, 5, 10)


def _pk_comb_rows() -> list[tuple[int, int, int, int]]:
    from math import comb

    return [(c, k, comb(PK_N, k),
             comb(PK_N - c, k) if PK_N - c >= k else 0)
            for c in range(PK_N + 1) for k in PK_KS]


def _pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The unbiased pass@k estimator (HumanEval: pass@k = 1 −
    C(n−c,k)/C(n,k)) over a deterministic synthetic eval run: every
    document is a task, ``PK_N`` attempts each, attempt j succeeding
    when a seeded md5 uniform clears the task's difficulty (tied to
    n_chars, so success counts vary). Per k the corpus mean is ONE
    exact integer division — (1e6·Σ_task (C(n,k) − C(n−c,k))) div
    (n_tasks·C(n,k)) — because C(n,k) is task-independent; binomials
    ride a 33-row broadcast constant table (no factorials in SQL).

    Scale: one scan explodes ×PK_N (map-side combinable back to
    per-task success counts); everything after runs on the task table
    joined to the broadcast binomial constants.
    """
    attempts = F.explode(F.array(*[F.lit(j) for j in range(PK_N)]))
    tasks = (load(spark, sf_dir, "documents")
             .select("doc_id", (20 + F.col("n_chars") % 60).alias("diff"))
             .select("doc_id", "diff", attempts.alias("j"))
             .select("doc_id", "diff",
                     F.expr("cast(conv(substr(md5(concat('pk', j, ':',"
                            " cast(doc_id as string))), 1, 12), 16, 10)"
                            " as bigint) % 100").alias("u"))
             .groupBy("doc_id")
             .agg(F.sum((F.col("u") < F.col("diff")).cast("long"))
                   .alias("c")))
    combs = spark.createDataFrame(
        _pk_comb_rows(), "c long, k int, cnk long, cfail long")
    per_task = tasks.join(F.broadcast(combs), "c")
    return (per_task.groupBy("k", "cnk")
            .agg(F.count(F.lit(1)).cast("long").alias("n_tasks"),
                 F.sum(F.col("cnk") - F.col("cfail")).cast("long")
                  .alias("sum_pass_num"),
                 F.sum("c").cast("long").alias("sum_correct"))
            .select("k", "n_tasks",
                    F.expr("(1000000 * sum_pass_num) div (n_tasks * cnk)")
                     .alias("pass_at_k_e6"),
                    F.expr(f"(1000000 * sum_correct)"
                           f" div (n_tasks * {PK_N})")
                     .alias("avg_correct_e6")))


def _pk_sql() -> str:
    rows = ", ".join(f"({c}, {k}, {cnk}, {cfail})"
                     for c, k, cnk, cfail in _pk_comb_rows())
    return f"""
WITH tasks AS (
  SELECT doc_id,
         sum(CASE WHEN CAST('0x' || substr(md5('pk' || CAST(j AS VARCHAR)
                  || ':' || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                  % 100 < diff THEN 1 ELSE 0 END) AS c
  FROM (SELECT doc_id, 20 + n_chars % 60 AS diff FROM documents)
  CROSS JOIN (SELECT unnest(range(0, {PK_N})) AS j)
  GROUP BY 1
),
combs (c, k, cnk, cfail) AS (VALUES {rows})
SELECT k, CAST(count(*) AS BIGINT) AS n_tasks,
       (1000000 * CAST(sum(cnk - cfail) AS BIGINT))
           // (CAST(count(*) AS BIGINT) * CAST(max(cnk) AS BIGINT))
           AS pass_at_k_e6,
       (1000000 * CAST(sum(c) AS BIGINT))
           // (CAST(count(*) AS BIGINT) * {PK_N}) AS avg_correct_e6
FROM tasks JOIN combs USING (c)
GROUP BY k
"""


QUERIES["pass_at_k_estimator"] = (_pass_at_k, _pk_sql())


# --------------------------------------------------------------------------
# best_of_n_gain: the BoN sampling quality curve
# --------------------------------------------------------------------------
BON_ATTEMPTS = 8
BON_NS = (1, 2, 4, 8)


def _best_of_n_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n sampling gain curve (the RLHF/BoN ladder): every
    document is a task whose ``BON_ATTEMPTS`` attempts score a
    deterministic base quality (length residue) plus seeded md5 noise;
    for each n in {BON_NS} the curve reports the corpus mean of the
    best score among the FIRST n attempts — how much quality one buys
    with more samples, measured exactly (integer scores, one e6
    division per n).

    Scale: one scan explodes ×{BON_ATTEMPTS}; per-task conditional
    maxes are one map-side-combinable aggregate; the curve is a 1-row
    reduce reshaped to {len(BON_NS)} rows via a literal explode.
    """
    attempts = F.explode(F.array(*[F.lit(j) for j in range(BON_ATTEMPTS)]))
    scored = (load(spark, sf_dir, "documents")
              .select("doc_id", (F.col("n_chars") % 500).alias("base"))
              .select("doc_id", "base", attempts.alias("j"))
              .select("doc_id", "j",
                      (F.col("base")
                       + F.expr("cast(conv(substr(md5(concat('bon', j,"
                                " ':', cast(doc_id as string))), 1, 12),"
                                " 16, 10) as bigint) % 500").cast("long"))
                      .alias("s")))
    per_task = scored.groupBy("doc_id").agg(*[
        F.max(F.when(F.col("j") < n, F.col("s"))).alias(f"b{n}")
        for n in BON_NS])
    sums = per_task.agg(
        F.count(F.lit(1)).cast("long").alias("nt"),
        *[F.sum(f"b{n}").cast("long").alias(f"s{n}") for n in BON_NS])
    pairs = F.explode(F.array(*[
        F.struct(F.lit(n).alias("n"),
                 F.col(f"s{n}").alias("sumv")) for n in BON_NS])).alias("p")
    return (sums.select("nt", pairs)
            .select(F.col("p.n").alias("n"),
                    F.col("nt").alias("n_tasks"),
                    F.expr("(1000000 * p.sumv) div nt")
                     .alias("mean_best_e6")))


def _bon_sql() -> str:
    cols = ",\n         ".join(
        f"CAST(sum(b{n}) AS BIGINT) AS s{n}" for n in BON_NS)
    maxes = ",\n         ".join(
        f"max(CASE WHEN j < {n} THEN s END) AS b{n}" for n in BON_NS)
    sel = "\nUNION ALL\n".join(
        f"SELECT {n} AS n, nt AS n_tasks,"
        f" (1000000 * s{n}) // nt AS mean_best_e6 FROM sums"
        for n in BON_NS)
    return f"""
WITH scored AS (
  SELECT doc_id, j,
         (n_chars % 500)
         + CAST('0x' || substr(md5('bon' || CAST(j AS VARCHAR) || ':'
               || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 500 AS s
  FROM documents
  CROSS JOIN (SELECT unnest(range(0, {BON_ATTEMPTS})) AS j)
),
per_task AS (
  SELECT doc_id,
         {maxes}
  FROM scored GROUP BY 1
),
sums AS (
  SELECT CAST(count(*) AS BIGINT) AS nt,
         {cols}
  FROM per_task
)
{sel}
"""


QUERIES["best_of_n_gain"] = (_best_of_n_gain, _bon_sql())


# --------------------------------------------------------------------------
# mcnemar_paired_test: paired comparison of two models on the same tasks
# --------------------------------------------------------------------------
MC_CHI2_CRIT_E6 = 3_841_459   # chi-square(1) 0.95


def _mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test — THE statistic for "is model B actually better
    than model A on the same eval set": two deterministic pseudo-models
    grade every document (each correct when its seeded md5 uniform
    clears a model-specific difficulty; model B gets a +5pt edge), the
    test looks ONLY at discordant pairs b (A right, B wrong) and c
    (A wrong, B right): chi2 = (|b−c|−1)²/(b+c) with continuity
    correction, exact integers except one final division.

    Scale: one scan, one map-side 2×2 reduce; the statistic is a
    1-row expression.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (30 + F.col("n_chars") % 40).alias("diff"))

    def correct(tag, edge):
        return (F.expr(f"cast(conv(substr(md5(concat('{tag}:',"
                       f" cast(doc_id as string))), 1, 12), 16, 10)"
                       f" as bigint) % 100")
                < F.col("diff") + edge).cast("int")

    graded = docs.select(correct("mA", 0).alias("a_ok"),
                         correct("mB", 5).alias("b_ok"))
    cells = graded.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("a_ok") == 1) & (F.col("b_ok") == 0)).cast("long"))
         .alias("b"),
        F.sum(((F.col("a_ok") == 0) & (F.col("b_ok") == 1)).cast("long"))
         .alias("c"),
        F.sum("a_ok").cast("long").alias("a_correct"),
        F.sum("b_ok").cast("long").alias("b_correct"))
    chi2 = ("cast(floor(1000000 * (cast(abs(b - c) - 1 as double)"
            " * (abs(b - c) - 1)) / (b + c)) as bigint)")
    return cells.select(
        "n", "a_correct", "b_correct", "b", "c",
        F.expr(chi2).alias("chi2_e6"),
        (F.expr(chi2) > MC_CHI2_CRIT_E6).cast("int").alias("significant"))


_MCNEMAR_SQL = f"""
WITH graded AS (
  SELECT CASE WHEN CAST('0x' || substr(md5('mA:'
              || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100
              < 30 + n_chars % 40 THEN 1 ELSE 0 END AS a_ok,
         CASE WHEN CAST('0x' || substr(md5('mB:'
              || CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 100
              < 30 + n_chars % 40 + 5 THEN 1 ELSE 0 END AS b_ok
  FROM documents
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN a_ok = 1 AND b_ok = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(sum(CASE WHEN a_ok = 0 AND b_ok = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c,
         CAST(sum(a_ok) AS BIGINT) AS a_correct,
         CAST(sum(b_ok) AS BIGINT) AS b_correct
  FROM graded
)
SELECT n, a_correct, b_correct, b, c,
       CAST(floor(1000000 * (CAST(abs(b - c) - 1 AS DOUBLE)
            * (abs(b - c) - 1)) / (b + c)) AS BIGINT) AS chi2_e6,
       CAST(CASE WHEN CAST(floor(1000000 * (CAST(abs(b - c) - 1
                 AS DOUBLE) * (abs(b - c) - 1)) / (b + c)) AS BIGINT)
                 > {MC_CHI2_CRIT_E6} THEN 1 ELSE 0 END AS INT)
           AS significant
FROM cells
"""

QUERIES["mcnemar_paired_test"] = (_mcnemar_paired_test, _MCNEMAR_SQL)
