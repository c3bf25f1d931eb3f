"""Mathematical invariants of the round-6 eval operators.

Same charter as test_round4/5_invariants: the oracle proves
cross-engine agreement; these prove the metrics satisfy the laws that
make them meaningful (NDCG bounds, F1 between precision and recall,
DP optimality, Hampel robustness, DiD cell algebra).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from alma_publish_to_marc_spark import tables

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def q(spark):
    import __spark_entry__ as e

    qs = e.queries()
    return lambda name: qs[name](spark, SF_SMOKE)


def test_ranking_metrics_bounds(q):
    # NDCG, RR, P@10 are all in [0, 1]e6; DCG never exceeds IDCG
    # (IDCG is the max over ALL orderings); a query with a first-rank
    # relevant hit has rr_e6 = 1e6.
    rows = q("retrieval_ranking_metrics").collect()
    assert rows
    for r in rows:
        assert 0 <= r.ndcg_e6 <= 1_000_000
        assert 0 <= r.rr_e6 <= 1_000_000
        assert 0 <= r.p10_e6 <= 1_000_000
        assert r.dcg_e6 <= r.idcg_e6
        assert r.n_ranked <= 10
    tables.release()


def test_rouge_f1_between_precision_and_recall(q):
    # harmonic mean law: min(p, r) <= F1 <= max(p, r); all in [0, 1]e6.
    # Integer floors can push F1 one ulp under min(p, r) — allow 1.
    for r in q("rouge_overlap_eval").collect():
        for p_, rec, f1 in ((r.r1_prec_e6, r.r1_rec_e6, r.r1_f1_e6),
                            (r.r2_prec_e6, r.r2_rec_e6, r.r2_f1_e6)):
            assert 0 <= p_ <= 1_000_000 and 0 <= rec <= 1_000_000
            assert min(p_, rec) - 1 <= f1 <= max(p_, rec) + 1


def test_bleu_bounded_and_zero_without_overlap(q):
    # BLEU in [0, 1]; identical pair (ov1 == ua == ub) scores 1.0 only
    # when bigrams also fully overlap; zero unigram overlap => 0.
    for r in q("bleu_ngram_eval").collect():
        assert 0.0 <= r.bleu2_r6 <= 1.0
        if r.ov1 == 0:
            assert r.bleu2_r6 == 0.0


def test_viterbi_dominates_single_state_paths(spark, q):
    # The Viterbi max-score is >= the score of ANY single path; the
    # cheapest checkable competitors are the two stay-in-one-state
    # paths. Recompute them per user from the same sorted sequence.
    from alma_publish_to_marc_spark.plans.eval_queries import (
        _V_E0, _V_E1, _V_INIT, _V_T)
    from alma_publish_to_marc_spark.tables import load

    ev = load(spark, SF_SMOKE, "events")
    per_user = (ev.groupBy("user_id").agg(
        *[F.sum(F.when(F.col("event_type") == k, v).otherwise(0))
          .alias(f"e0_{k}") for k, v in _V_E0.items()],
        F.count(F.lit(1)).alias("n")).collect())
    e0_tot = {r["user_id"]:
              sum(r[f"e0_{k}"] for k in _V_E0) for r in per_user}
    n_ev = {r["user_id"]: r["n"] for r in per_user}
    best = {r.user_id: r.best_score
            for r in q("viterbi_state_decode").collect()}
    for uid, score in best.items():
        stay0 = _V_INIT[0] + e0_tot[uid] + n_ev[uid] * _V_T["t00"]
        assert score >= stay0, uid


def test_viterbi_rowcount_is_user_count(spark, q):
    from alma_publish_to_marc_spark.tables import load

    users = load(spark, SF_SMOKE, "events").select("user_id").distinct()
    assert q("viterbi_state_decode").count() == users.count()


def test_hampel_spike_detection_and_clean_series_pass(spark):
    # A constant series with one big spike flags exactly the spike; a
    # constant series flags nothing (MAD = 0 and |x - med| = 0).
    from alma_publish_to_marc_spark.plans.eval_queries import (
        _hampel_outlier_filter)
    import alma_publish_to_marc_spark.plans.eval_queries as EQ

    rows = ([("a", d, 100) for d in range(1, 15)]
            + [("b", d, 50 if d != 7 else 5000) for d in range(1, 15)])
    df = spark.createDataFrame(rows, "event_type string, day long, x long")

    # drive the window tail of the operator directly on the fixture
    from pyspark.sql import Window
    w = (Window.partitionBy("event_type").orderBy("day")
         .rowsBetween(-3, 3))
    arr = F.array_sort(F.collect_list(F.col("x")).over(w))
    med2 = ("element_at(a, cast((size(a) + 1) div 2 as int))"
            " + element_at(a, cast((size(a) + 2) div 2 as int))")
    out = (df.withColumn("a", arr)
           .withColumn("m2", F.expr(med2))
           .withColumn("d", F.expr(
               "array_sort(transform(a, v -> abs(2 * v - m2)))"))
           .withColumn("mad2d", F.expr(
               "element_at(d, cast((size(d) + 1) div 2 as int))"
               " + element_at(d, cast((size(d) + 2) div 2 as int))"))
           .select("event_type", "day",
                   F.expr("CASE WHEN 20000 * abs(2 * x - m2)"
                          " > 44478 * mad2d THEN 1 ELSE 0 END")
                   .alias("is_outlier"))).collect()
    flagged = {(r.event_type, r.day) for r in out if r.is_outlier}
    assert flagged == {("b", 7)}


def test_did_equals_cell_algebra(q):
    r = q("did_estimator").collect()[0]
    assert r.did_e6 == ((r.post_t_e6 - r.pre_t_e6)
                        - (r.post_c_e6 - r.pre_c_e6))


def test_markov_accuracy_bounds_and_coverage(spark, q):
    # accuracy in [0,1]e6; test rows partition the held-out pairs by
    # from-type (sum of n_test == total held-out pairs).
    rows = q("markov_next_event_eval").collect()
    for r in rows:
        assert 0 <= r.acc_e6 <= 1_000_000
        assert r.hits <= r.n_test


def test_contrastive_negatives_never_share_source(spark, q):
    from alma_publish_to_marc_spark.tables import load

    src = {r.doc_id: r.source
           for r in load(spark, SF_SMOKE, "documents")
           .select("doc_id", "source").collect()}
    for r in q("contrastive_pair_batches").collect():
        a = src[r.anchor_id]
        if r.pos_id is not None:
            assert src[r.pos_id] == a  # positive IS same-source
        for neg in (r.neg1, r.neg2, r.neg3):
            if neg is not None:
                assert src[neg] != a
        assert r.n_valid_negs == sum(
            x is not None for x in (r.neg1, r.neg2, r.neg3))


def test_lcs_alignment_matches_python_reference(spark, q):
    # recompute the capped per-user LCS in pure Python from the same
    # (ts, event_id)-sorted halves and compare exactly.
    from alma_publish_to_marc_spark.plans.eval_queries import _LCS_CAP
    from alma_publish_to_marc_spark.tables import load

    ev = load(spark, SF_SMOKE, "events").select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
        .alias("day")).collect()
    days = [r.day for r in ev]
    split = (min(days) + max(days)) // 2
    halves: dict = {}
    for r in sorted(ev, key=lambda r: (r.tus, r.event_id)):
        a, b = halves.setdefault(r.user_id, ([], []))
        (a if r.day <= split else b).append(r.event_type)

    def lcs(a, b):
        dp = [[0] * (len(b) + 1) for _ in range(len(a) + 1)]
        for i, x in enumerate(a, 1):
            for j, y in enumerate(b, 1):
                dp[i][j] = max(dp[i - 1][j], dp[i][j - 1],
                               dp[i - 1][j - 1] + (x == y))
        return dp[-1][-1]

    got = {r.user_id: (r.n_a, r.n_b, r.lcs_len, r.consistency_e6)
           for r in q("behavior_alignment_score").collect()}
    for uid, (a, b) in halves.items():
        a, b = a[:_LCS_CAP], b[:_LCS_CAP]
        if not a or not b:
            assert uid not in got
            continue
        n_a, n_b, l, cons = got[uid]
        assert (n_a, n_b) == (len(a), len(b))
        assert l == lcs(a, b), uid
        assert cons == 2_000_000 * l // (n_a + n_b)
        assert l <= min(n_a, n_b)


def test_trajectory_topk_is_ordered_and_bounded(q):
    rows = q("trajectory_similarity_topk").collect()
    assert 1 <= len(rows) <= 10
    sims = [(r.sim_e6, -r.user_id) for r in rows]
    assert sims == sorted(sims, reverse=True)
    for r in rows:
        assert r.lcs_len <= min(r.n_a, r.n_b)
        assert 0 <= r.sim_e6 <= 1_000_000
        assert r.user_id != r.probe_id


def test_sentiment_counts_partition_tokens(q):
    for r in q("lexicon_sentiment_score").collect():
        assert r.n_pos + r.n_neg <= r.n_tokens
        assert -1_000_000 <= r.polarity_e6 <= 1_000_000


def test_cardinality_eval_grid_and_qerror_law(spark, q):
    # 18 predicates (3 flags x 2 statuses x 3 thresholds); q-error is
    # >= 1 by definition (or the zero sentinel); the true counts
    # reconcile with direct filters for one spot-checked predicate.
    from alma_publish_to_marc_spark.tables import load

    rows = q("cardinality_estimate_eval").collect()
    assert len(rows) == 18
    for r in rows:
        assert r.qerror_e6 >= 1_000_000
        assert r.est_n >= 0 and r.true_n >= 0
    li = load(spark, SF_SMOKE, "lineitem")
    spot = [r for r in rows if r.l_returnflag == "A"
            and r.l_linestatus == "F" and r.qty_ge == 25][0]
    direct = li.where("l_returnflag = 'A' AND l_linestatus = 'F'"
                      " AND l_quantity >= 25").count()
    assert spot.true_n == direct


def test_bitext_candidates_cross_lingual_and_canonical(q):
    rows = q("bitext_candidate_mining").collect()
    assert rows
    for r in rows:
        assert r.lang_a != r.lang_b
        assert r.doc_a < r.doc_b
        assert r.n_shared >= 1


def test_hll_cube_rollup_nodes_and_error(spark, q):
    # 7 dow + 5 type + 1 total nodes; the total node's exact count is
    # the true distinct-user count; every estimate is within the
    # linear-counting regime's error at this cardinality.
    from alma_publish_to_marc_spark.tables import load

    tables.release()  # clean slate: count only this key's persists
    rows = q("hll_cube_rollup").collect()
    kinds = {}
    for r in rows:
        kinds.setdefault(r.node_kind, 0)
        kinds[r.node_kind] += 1
        assert r.rel_err_e6 <= 150_000, r  # <= 15%
    assert kinds == {"dow": 7, "event_type": 5, "total": 1}
    total = [r for r in rows if r.node_kind == "total"][0]
    exact = (load(spark, SF_SMOKE, "events")
             .select("user_id").distinct().count())
    assert total.exact_n == exact
    assert tables.release() >= 1


def test_hll_rolling_window_dominates_daily(spark, q):
    # a 7-day window's exact distinct is >= any single day's, and the
    # estimate error stays in the linear-counting regime.
    tables.release()  # clean slate: count only this key's persists
    rows = q("hll_rolling_distinct").collect()
    assert rows
    for r in rows:
        assert r.rel_err_e6 <= 150_000
        assert r.est > 0 and r.exact_n > 0
    assert tables.release() >= 1


def test_constellation_self_retrieval_at_rank1(q):
    # a snippet cut from doc X must retrieve X at rank 1 with the
    # offset equal to the snippet's start frame — the Shazam law.
    from alma_publish_to_marc_spark.multimodal.multimodal_queries import (
        _CM_SNIP_FIRST)

    rows = q("audio_constellation_match").collect()
    assert rows
    top = {r.qid: r for r in rows if r.rank == 1}
    for qid, r in top.items():
        assert r.did == qid, (qid, r)
        assert r.offset == _CM_SNIP_FIRST
    for r in rows:
        assert r.score >= 1


def test_t5_span_corruption_laws(q):
    # mask share is near the 15% target; sentinel count == n_spans in
    # both strings; every masked token appears in targets (token
    # conservation: visible + masked == n_tokens).
    rows = q("t5_span_corruption").collect()
    tot = sum(r.n_tokens for r in rows)
    masked = sum(r.n_masked for r in rows)
    assert 0.10 < masked / tot < 0.20
    for r in rows:
        assert r.n_masked <= r.n_tokens
        assert r.masked_input.count("<X") == r.n_spans
        assert r.targets.count("<X") == r.n_spans
        vis = len([t for t in r.masked_input.split() if "<X" not in t])
        tgt = len([t for t in r.targets.split() if "<X" not in t])
        assert vis + tgt == r.n_tokens
        assert tgt == r.n_masked


def test_mlm_masking_census_and_ratios(q):
    rows = q("mlm_masking_plan").collect()
    tot = sum(r.n_tokens for r in rows)
    sel = sum(r.n_mask + r.n_random + r.n_same for r in rows)
    msk = sum(r.n_mask for r in rows)
    assert 0.10 < sel / tot < 0.20        # ~15% selected
    assert 0.70 < msk / sel < 0.90        # ~80% of selected -> [MASK]
    for r in rows:
        assert r.corrupted_text.count("[MASK]") == r.n_mask
        assert len(r.corrupted_text.split()) == r.n_tokens


def test_fim_psm_reassembles_to_original(spark, q):
    # prefix + middle + suffix (in SMP order) == the original tokens
    from alma_publish_to_marc_spark.tables import load

    texts = {r.doc_id: r.text.strip().lower().split()
             for r in load(spark, SF_SMOKE, "documents").collect()}
    for r in q("fim_transform").collect():
        body = r.psm_text
        pre = body.split(" <SUF> ")[0].removeprefix("<PRE> ")
        suf = body.split(" <SUF> ")[1].split(" <MID> ")[0]
        mid = body.split(" <MID> ")[1]
        toks = ((pre.split() if pre else [])
                + (mid.split() if mid else [])
                + (suf.split() if suf else []))
        assert toks == texts[r.doc_id], r.doc_id
        assert 0 <= r.cut_a <= r.cut_b < r.n_tokens


def test_ann_label_vote_census(spark, q):
    # every labeled vector is counted exactly once; accuracy bounded;
    # the baseline equals the true majority-class share. (On the
    # synthetic corpus labels are random, so accuracy ~ chance — the
    # eval's JOB is to report that, not to beat it.)
    from alma_publish_to_marc_spark.tables import load

    rows = q("ann_graph_label_vote").collect()
    emb = load(spark, SF_SMOKE, "embeddings")
    assert sum(r.n_vectors for r in rows) == emb.count()
    base = rows[0].majority_baseline_e6
    for r in rows:
        assert r.n_correct <= r.n_classified <= r.n_vectors
        assert 0 <= r.acc_e6 <= 1_000_000
        assert r.majority_baseline_e6 == base
    tables.release()


def test_unigram_segment_cost_bounds(q):
    # every word segments (cost < the not-in-vocab sentinel); the
    # all-singles path bounds cost above at 9*len; pieces of length
    # 2/3 can only lower it, never below ceil(7*len/3).
    for r in q("unigram_lm_segment").collect():
        assert r.best_cost <= 9 * r.wlen
        assert r.best_cost >= (7 * r.wlen + 2) // 3
        assert 0 <= r.saved_e6 <= 1_000_000
