"""Mathematical invariants of the round-5 operators.

Same charter as test_round4_invariants: the oracle proves cross-engine
agreement; these prove the algorithms satisfy the laws that make their
outputs meaningful.
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


def test_incremental_assign_equals_rebuild_on_merged_corpus(spark):
    # The law that makes per-batch maintenance SOUND: assignment is a
    # pure function of (vector, centroids), so assigning base and the
    # new batch separately and unioning == one assignment pass over
    # the merged corpus. If a refactor made assignment stateful (e.g.
    # tie-break depending on input order), incremental would drift.
    from alma_publish_to_marc_spark.operators import clustering as CL
    from alma_publish_to_marc_spark.operators.similarity_queries import (
        INC_MOD, INC_REM)
    from alma_publish_to_marc_spark.tables import load

    emb = load(spark, SF_SMOKE, "embeddings")
    vecs, cents = CL._refined_int_cents(emb, CL.SEED_IDS, CL.N_ITERS)
    is_new = F.col("vec_id") % INC_MOD == INC_REM
    merged = CL._assign(vecs, cents)
    pieces = (CL._assign(vecs.where(~is_new), cents)
              .unionByName(CL._assign(vecs.where(is_new), cents)))
    diff = (merged.select("vec_id", "cell")
            .exceptAll(pieces.select("vec_id", "cell")))
    assert diff.count() == 0
    assert merged.count() == pieces.count()
    tables.release()


def test_incremental_census_conserves_vectors(spark, q):
    # Every vector lands in exactly one cell in BOTH indexes, and the
    # base/new split partitions each incremental cell.
    from alma_publish_to_marc_spark.tables import load

    out = q("ann_index_incremental")
    rows = out.collect()
    n_corpus = load(spark, SF_SMOKE, "embeddings").count()
    assert sum(r["n_total"] for r in rows) == n_corpus
    assert sum(r["n_rebuild"] for r in rows) == n_corpus
    for r in rows:
        assert r["n_base"] + r["n_new"] == r["n_total"]
        assert r["cell_drift"] == r["n_total"] - r["n_rebuild"]
    tables.release()


def test_incremental_recall_bounded_and_consistent(q):
    for r in q("ann_index_incremental_recall").collect():
        assert 0 <= r["inc_hits"] <= r["n_exact"]
        assert 0 <= r["rebuild_hits"] <= r["n_exact"]
        assert 0.0 <= r["inc_recall"] <= 1.0
        assert 0.0 <= r["rebuild_recall"] <= 1.0
    tables.release()


def test_sq_codes_are_bytes_and_self_distance_zero(spark):
    # The quantizer must emit codes in [0, 255] (that's the 4x memory
    # claim) and map each vector to a single code point (self-distance
    # 0 is what makes symmetric SQ distance a metric on codes).
    from alma_publish_to_marc_spark.operators import similarity as S
    from alma_publish_to_marc_spark.tables import load

    emb = load(spark, SF_SMOKE, "embeddings")
    grid = S.sq_grid(emb, "vec_id", "embedding")
    codes = S.sq_encode(emb, "vec_id", "embedding", grid)
    stats = codes.select(
        F.array_min("c").alias("lo"), F.array_max("c").alias("hi"),
        F.size("c").alias("d")).agg(
        F.min("lo").alias("lo"), F.max("hi").alias("hi"),
        F.min("d").alias("dmin"), F.max("d").alias("dmax")).first()
    assert 0 <= stats["lo"] and stats["hi"] <= S.SQ_LEVELS
    assert stats["dmin"] == stats["dmax"] == S.DIM


def test_sq_recall_beats_pq_adc(spark, q):
    # SQ keeps 4x less compression than PQ (64 B vs 4 codes) precisely
    # to rank better; if PQ-ADC ever matched SQ recall here, the SQ
    # family would be pointless and the grid likely broken.
    sq = {r["qid"]: r["sq_recall"] for r in q("sq_recall_eval").collect()}
    pq = {r["qid"]: r["pq_recall"] for r in q("pq_recall_eval").collect()}
    assert sum(sq.values()) >= sum(pq.values())
    assert all(v >= 0.5 for v in sq.values())


def test_knn_confusion_partitions_the_panel(spark, q):
    from alma_publish_to_marc_spark.operators.learning import (
        KNN_PROBE_MOD, KNN_PROBE_REM)
    from alma_publish_to_marc_spark.tables import load

    rows = q("knn_classifier_eval").collect()
    emb = load(spark, SF_SMOKE, "embeddings")
    panel = emb.where(F.col("vec_id") % KNN_PROBE_MOD == KNN_PROBE_REM)
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    assert sum(r["n_probes"] for r in rows) == panel.count()
    for r in rows:
        assert r["true_label"] in labels and r["pred_label"] in labels


def test_ols_matches_numpy_lstsq(spark, q):
    # Independent oracle: the closed-form Cramer solve must agree with
    # numpy's QR-based lstsq on the same design matrix.
    import numpy as np

    from alma_publish_to_marc_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents").select("text", "n_chars")
    rows = docs.collect()
    y = np.array([r["n_chars"] for r in rows], dtype=float)
    x1 = np.array([len(r["text"].strip().split()) for r in rows], float)
    x2 = np.array([sum(1 for w in r["text"].strip().split() if w == "the")
                   for r in rows], float)
    X = np.column_stack([np.ones_like(x1), x1, x2])
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    got = q("ols_normal_equations").first()
    for i, name in enumerate(["b0_e6", "b1_e6", "b2_e6"]):
        assert abs(got[name] / 1e6 - beta[i]) < 1e-3, (name, beta[i], got[name])
    pred = X @ beta
    ss_res = float(((y - pred) ** 2).sum())
    ss_tot = float(((y - y.mean()) ** 2).sum())
    assert abs(got["r2_e6"] / 1e6 - (1 - ss_res / ss_tot)) < 1e-4


def test_boilerplate_removal_is_consistent(spark, q):
    # Removal must strike a segment EVERYWHERE or NOWHERE (it's keyed
    # by corpus-wide document frequency, not per-doc state), untouched
    # docs must round-trip their text, and the smoke corpus is known
    # to contain df>=3 template segments, so something must be removed.
    from alma_publish_to_marc_spark.tables import load

    out = q("boilerplate_segment_removal")
    docs = load(spark, SF_SMOKE, "documents").select(
        "doc_id", F.array_join(F.split(F.trim("text"), r"\s+"), " ")
                   .alias("norm_text"))
    joined = out.join(docs, "doc_id")
    assert joined.count() == docs.count()
    total_removed = joined.agg(F.sum("n_removed")).first()[0]
    assert total_removed > 0
    untouched = joined.where(F.col("n_removed") == 0)
    assert untouched.where(F.col("clean_text") != F.col("norm_text")) \
                    .count() == 0
    touched = joined.where(F.col("n_removed") > 0)
    assert touched.where(
        F.length("clean_text") >= F.length("norm_text")).count() == 0


def test_incremental_topk_equals_full_recompute(q):
    # The maintenance identity itself: every rank of every group agrees
    # between state-merge and full recompute (insert-only top-k).
    rows = q("incremental_topk_maintenance").collect()
    assert rows
    for r in rows:
        assert r["rank_matches"] == 1
        assert r["merged_orderkey"] is not None
        assert r["full_orderkey"] is not None


def test_calibration_bins_partition_the_corpus(spark, q):
    from alma_publish_to_marc_spark.operators.learning import CAL_BINS
    from alma_publish_to_marc_spark.tables import load

    rows = q("logreg_calibration_bins").collect()
    n_corpus = load(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_corpus
    overall_pos = (load(spark, SF_SMOKE, "documents")
                   .where(F.col("lang") == "en").count())
    weighted = sum(r["n_docs"] * r["frac_pos"] for r in rows)
    assert abs(weighted - overall_pos) < 0.001 * n_corpus  # rounding only
    for r in rows:
        assert 0 <= r["bin"] < CAL_BINS
        assert 0.0 <= r["mean_pred"] <= 1.0
        assert 0.0 <= r["frac_pos"] <= 1.0
        assert abs(r["gap"] - round(r["mean_pred"] - r["frac_pos"], 4)) < 1e-9


def test_systematic_resample_hits_target_exactly(spark, q):
    # The defining property of systematic resampling: the grid has
    # exactly m points, so copies sum to m EXACTLY (not in
    # expectation), and every count is within +-1 of w_i*m/W.
    from alma_publish_to_marc_spark.plans.corpus_queries import RESAMPLE_M
    from alma_publish_to_marc_spark.tables import load

    rows = q("systematic_resample").collect()
    assert sum(r["n_copies"] for r in rows) == RESAMPLE_M
    tw = (load(spark, SF_SMOKE, "documents")
          .agg(F.sum("n_chars")).first()[0])
    for r in rows:
        expect = r["weight"] * RESAMPLE_M / tw
        assert expect - 1 < r["n_copies"] < expect + 1


def test_jl_distortion_concentrates_near_one(q):
    # JL concentration: with K=16 the squared-distance ratio should be
    # unbiased and tight-ish; assert the mean ratio is within 25% of 1
    # and every single pair within a generous [0.2, 3] envelope.
    rows = q("jl_projection_distortion").collect()
    assert rows
    ratios = [r["ratio"] for r in rows]
    mean = sum(ratios) / len(ratios)
    assert 0.75 < mean < 1.25, mean
    assert all(0.2 < x < 3.0 for x in ratios)
    for r in rows:
        assert r["orig_d2"] > 0 and r["est_d2"] > 0


def test_fd_audit_separates_keys_from_nonkeys(q):
    rows = {r["fd"]: r for r in q("functional_dependency_audit").collect()}
    # primary-key FDs hold by construction
    assert rows["orders.o_orderkey->o_custkey"]["holds"] == 1
    assert rows["customer.c_custkey->c_nationkey"]["holds"] == 1
    # a user emits many event types; if this ever "holds" the events
    # table (or the audit) is broken
    ev = rows["events.user_id->event_type"]
    assert ev["holds"] == 0 and ev["n_violating"] > 0
    for r in rows.values():
        assert 0 <= r["n_violating"] <= r["n_groups"]
        assert (r["holds"] == 1) == (r["n_violating"] == 0)
        assert r["max_variants"] >= 1


def test_oov_rate_is_consistent(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = q("oov_rate_eval").collect()
    langs = {r["lang"] for r in
             load(spark, SF_SMOKE, "documents")
             .where(F.col("doc_id") % 5 == 0).select("lang")
             .distinct().collect()}
    assert {r["lang"] for r in rows} == langs
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"]
        assert abs(r["oov_rate"] - round(r["n_oov"] / r["n_tokens"], 4)) \
            < 1e-9


def test_modularity_global_sum_is_bounded_and_consistent(spark, q):
    # Q = sum(q_num) / (4 m^2) must land in [-1, 1]; each community's
    # intra-edges can't exceed m; degree mass sums to 2m; and on the
    # driver's random embeddings the partition should carry little
    # structure (|Q| well below the ~0.3 "real communities" bar).
    rows = q("community_modularity").collect()
    assert rows
    two_m = sum(r["d_c"] for r in rows)
    m = two_m // 2
    assert two_m == 2 * m
    assert sum(r["e_intra"] for r in rows) <= m
    q_global = sum(r["q_num"] for r in rows) / (4.0 * m * m)
    assert -1.0 <= q_global <= 1.0
    assert abs(q_global) < 0.3
    for r in rows:
        assert r["q_num"] == 4 * m * r["e_intra"] - r["d_c"] ** 2
    tables.release()


def test_lsh_precision_summary_is_coherent(q):
    r = q("lsh_candidate_precision").first()
    assert r["n_candidates"] > 0
    # the augmented corpus plants true near-dups, so the bands must
    # surface at least one verified pair
    assert 0 < r["n_true_pairs"] <= r["n_candidates"]
    assert r["precision_e6"] == r["n_true_pairs"] * 1_000_000 \
        // r["n_candidates"]
    # 16-perm estimates are coarse (1/16 granularity) but must stay a
    # sane distance from exact Jaccard on average
    assert 0 <= r["mae_e6"] <= 500_000
    tables.release()


def test_new_vs_returning_conserves_users(spark, q):
    from alma_publish_to_marc_spark.tables import load

    rows = sorted(q("new_vs_returning_users").collect(),
                  key=lambda r: r["day"])
    total_users = (load(spark, SF_SMOKE, "events")
                   .select("user_id").distinct().count())
    assert sum(r["n_new"] for r in rows) == total_users
    assert rows[-1]["cum_users"] == total_users
    # day 1: everyone is new
    assert rows[0]["n_new"] == rows[0]["n_active"]
    cum = 0
    for r in rows:
        assert r["n_returning"] == r["n_active"] - r["n_new"] >= 0
        cum += r["n_new"]
        assert r["cum_users"] == cum


def test_char_entropy_bounds(spark, q):
    import math

    from alma_publish_to_marc_spark.tables import load

    rows = q("char_entropy_profile").collect()
    n_docs = load(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs
    for r in rows:
        # 0 <= H <= ln(alphabet size), with e6-quantization slack
        hi = math.log(r["n_distinct_chars"]) * 1e6 + 1000
        assert -1000 <= r["entropy_e6"] <= hi
        assert 1 <= r["n_distinct_chars"] <= r["n_chars_counted"]


def test_transition_entropy_bounded_by_log_successors(q):
    import math

    for r in q("transition_entropy_profile").collect():
        hi = math.log(max(r["n_successors"], 1)) * 1e6 + 2000
        assert -2000 <= r["entropy_e6"] <= hi
        assert 1 <= r["n_successors"]
        assert r["n_from"] > 0


def test_burstiness_in_range_and_poissonlike(q):
    # Synthetic arrivals are near-Poisson: B must sit close to 0, and
    # algebraically B is always in (-1, 1) for positive mean/sd.
    rows = q("interarrival_burstiness").collect()
    assert rows
    for r in rows:
        assert -1.0 < r["burstiness"] < 1.0
        assert abs(r["burstiness"]) < 0.2
        assert r["mean_gap_s"] > 0 and r["var_gap_s"] > 0


def test_decayed_leaderboard_is_a_valid_topk(spark, q):
    # Exactly k rows, scores non-increasing in rank order, and every
    # score bounded by the undecayed event count (decay weights <= 1).
    rows = sorted(q("decayed_leaderboard").collect(),
                  key=lambda r: r["rank"])
    from alma_publish_to_marc_spark.plans.behavior_queries import DECAY_TOPK

    assert [r["rank"] for r in rows] == list(range(1, DECAY_TOPK + 1))
    prev = None
    for r in rows:
        assert 0 < r["score"] <= r["n_events"]
        if prev is not None:
            assert prev >= r["score"]
        prev = r["score"]


def test_phash_captures_every_planted_variant(spark, q):
    # Recall pin: every planted tail variant (the re-encode stand-in)
    # must land within the Hamming budget of its source - absolute
    # windowing exists precisely for this (proportional windows
    # measured 17-43 bits away).
    from alma_publish_to_marc_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents")
    off = docs.agg(F.max("doc_id")).first()[0] + 1
    planted = {(r["doc_id"], r["doc_id"] + off)
               for r in docs.where(F.col("doc_id") % 5 == 0)
               .select("doc_id").collect()}
    got = {(r["id_a"], r["id_b"])
           for r in q("media_phash_neardup").collect()}
    missing = planted - got
    assert not missing, f"{len(missing)} variants escaped the budget"


def test_target_encoding_excludes_own_label(spark, q):
    # The leakage-safety property itself, checked against a driver-side
    # recomputation on the smoke corpus: enc_i must equal the smoothed
    # group mean WITHOUT row i, never the plain group mean.
    import math

    from alma_publish_to_marc_spark.operators.learning import TE_ALPHA
    from alma_publish_to_marc_spark.tables import load

    orders = load(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice").collect()
    ys = {r["o_orderkey"]: round(r["o_totalprice"] * 100) for r in orders}
    grp = {}
    for r in orders:
        grp.setdefault(r["o_orderpriority"], []).append(ys[r["o_orderkey"]])
    s_all = sum(ys.values())
    n_all = len(ys)
    got = {r["o_orderkey"]: r for r in
           q("target_encoding_loo").collect()}
    assert len(got) == n_all
    for r in orders[:200]:
        g = grp[r["o_orderpriority"]]
        y = ys[r["o_orderkey"]]
        num = (sum(g) - y) * n_all + TE_ALPHA * s_all
        den = (len(g) - 1 + TE_ALPHA) * n_all
        expect = math.floor(1_000_000.0 * float(num) / float(den))
        assert got[r["o_orderkey"]]["enc_e6"] == expect


def test_ess_bounds(spark, q):
    # 1 <= ESS <= n per source, and ratio in (0, 1].
    rows = q("effective_sample_size").collect()
    assert rows
    for r in rows:
        assert 1_000_000 <= r["ess_e6"] <= r["n_docs"] * 1_000_000
        assert 0 < r["ess_ratio_e6"] <= 1_000_000


def test_recs_eval_summary_is_coherent(q):
    r = q("recs_quality_eval").first()
    assert 0 < r["n_recommended"] <= r["n_parts"]
    assert r["coverage_e6"] == r["n_recommended"] * 1_000_000 \
        // r["n_parts"]
    assert 0 <= r["cross_brand_e6"] <= 1_000_000
    assert r["mean_novelty_e6"] >= 0   # ln(nb/c_j) >= 0 since c_j <= nb
    assert r["n_rec_lists"] > 0


def test_quantile_normalization_matches_percent_rank(spark, q):
    # The run-table construction must equal the engine's own
    # percent_rank (floored to e6) row for row.
    from pyspark.sql import Window as W

    from alma_publish_to_marc_spark.tables import load

    docs = load(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    n = docs.count()
    ref = docs.select(
        "doc_id",
        F.floor(F.percent_rank().over(W.orderBy("n_chars"))
                * 1_000_000).cast("long").alias("ref"))
    got = q("quantile_normalize_feature").select("doc_id", "pct_e6")
    diff = (got.join(ref, "doc_id")
            .where(F.col("pct_e6") != F.col("ref")).count())
    # percent_rank's (rank-1)/(n-1) in DOUBLE can floor one unit below
    # the exact integer rational at e6 boundaries; allow only that.
    close = (got.join(ref, "doc_id")
             .where(F.abs(F.col("pct_e6") - F.col("ref")) > 1).count())
    assert close == 0
    assert diff <= n // 50   # boundary cases are rare
    rows = got.collect()
    assert all(0 <= r["pct_e6"] <= 1_000_000 for r in rows)


def test_mad_profile_matches_numpy(spark, q):
    import numpy as np

    from alma_publish_to_marc_spark.tables import load

    vals = {}
    for r in load(spark, SF_SMOKE, "events") \
            .select("event_type", "value").collect():
        vals.setdefault(r["event_type"], []).append(round(r["value"] * 100))
    got = {r["event_type"]: r for r in q("mad_outlier_profile").collect()}
    for t, xs in vals.items():
        xs = np.array(sorted(xs))
        n = len(xs)
        med = xs[(n + 1) // 2 - 1] if n % 2 else xs[n // 2 - 1]
        ad = np.sort(np.abs(xs - med))
        mad = ad[(n + 1) // 2 - 1] if n % 2 else ad[n // 2 - 1]
        assert got[t]["median_cents"] == med
        assert got[t]["mad_cents"] == mad
        assert got[t]["n_rows"] == n
        assert got[t]["n_outliers"] == int((ad * 10_000 > 44_478 * mad).sum())
