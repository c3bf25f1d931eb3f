"""Unit tests for plans/corpus_queries.py (training-corpus curation ops)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from alma_publish_to_marc_spark import tables
from alma_publish_to_marc_spark.plans import corpus_queries as C

SF_DIR = "/root/testdata/sf0.001"


def test_duplicate_ngram_spans_short_docs_have_zero_spans(spark, tmp_path):
    # a doc with < NGRAM words contributes no spans and a 0.0 ratio
    import pandas as pd

    pd.DataFrame(
        {"doc_id": [1, 2], "text": ["a b c", " ".join(["tok"] * 12)]}
    ).to_parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           C.duplicate_ngram_spans(spark, str(tmp_path)).collect()}
    assert out[1]["n_spans"] == 0 and out[1]["dup_ratio"] == 0.0
    # doc 2: 12 words -> 5 spans, all identical ("tok"*8) -> all duplicated
    assert out[2]["n_spans"] == 5
    assert out[2]["n_dup_spans"] == 5
    assert out[2]["dup_ratio"] == 1.0


def test_mixture_weights_normalize(spark):
    rows = C.domain_mixture_weights(spark, SF_DIR).collect()
    assert sum(r["mix_weight"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    assert sum(r["char_share"] for r in rows) == pytest.approx(1.0, abs=1e-4)
    # alpha < 1 compresses the range: max weight below max share
    assert max(r["mix_weight"] for r in rows) <= max(r["char_share"] for r in rows)


def test_training_order_shuffle_deterministic_and_dense(spark):
    a = C.training_order_shuffle(spark, SF_DIR).collect()
    b = C.training_order_shuffle(spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # positions are 1..n_shard dense within each shard
    per_shard: dict[str, list[int]] = {}
    for r in a:
        per_shard.setdefault(r["shard"], []).append(r["position"])
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard


def test_curation_funnel_consistency(spark):
    rows = C.corpus_curation_end2end(spark, SF_DIR).collect()
    assert rows
    reasons = {"lang", "quality", "contaminated", "boilerplate", "kept"}
    for r in rows:
        assert r["drop_reason"] in reasons
        assert r["kept"] == (r["drop_reason"] == "kept")
        # benchmark members are excluded from the curated corpus
        assert r["doc_id"] % 7 != 0
        if r["kept"]:
            assert r["lang_pred"] != "und"
            assert r["quality"] >= C.QUALITY_MIN
            assert r["dup_ratio"] < C.DUP_RATIO_MAX
            assert r["n_contaminated"] == 0


def test_vocab_merge_induction_ranked_pairs(spark):
    rows = sorted(C.vocab_merge_induction(spark, SF_DIR).collect(),
                  key=lambda r: r["rank"])
    assert rows and len(rows) <= C.MERGE_TOP_K
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(len(r["pair"]) == 2 for r in rows)


def test_event_regression_stats_shapes(spark):
    df = C.event_regression_stats(spark, SF_DIR)
    rows = df.collect()
    assert rows, "expected one row per event_type"
    for r in rows:
        assert r["n"] > 0
        if r["corr_vh"] is not None:
            assert -1.0 <= r["corr_vh"] <= 1.0
        # var = sd^2 up to rounding
        if r["sd_value"] is not None:
            assert r["var_value"] == pytest.approx(r["sd_value"] ** 2, rel=1e-2)


def test_write_training_shards_roundtrip(spark, tmp_path):
    from alma_publish_to_marc_spark.tables import load

    out = str(tmp_path / "shards")
    docs = load(spark, SF_DIR, "documents").select("doc_id")
    C.write_training_shards(docs, out)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    # shard dirs materialized, and each file's rows are sorted by key
    shards = [r["shard"] for r in back.select("shard").distinct().collect()]
    assert all(len(s) == C.N_SHARD_HEX for s in shards)
    one = back.where(back.shard == shards[0]).collect()
    keys = [r["shuffle_key"] for r in one]
    assert keys == sorted(keys)
    # same order the training_order_shuffle query declares
    expect = {r["doc_id"]: (r["shard"], r["position"])
              for r in C.training_order_shuffle(spark, SF_DIR).collect()}
    got_sorted = sorted((r["shard"], r["shuffle_key"], r["doc_id"]) for r in back.collect())
    for shard, _key, doc_id in got_sorted:
        assert expect[doc_id][0] == shard


def test_shingle_list_matches_python_reference(spark):
    """Property: _shingle_list == the obvious Python n-gram reference."""
    import pandas as pd

    texts = [
        "",
        "one",
        " ".join(f"w{i}" for i in range(7)),   # exactly NGRAM-1 words
        " ".join(f"w{i}" for i in range(8)),   # exactly NGRAM
        " ".join(f"w{i % 3}" for i in range(25)),
        "  leading and trailing   spaces padded out to eight words  ",
    ]
    sdf = spark.createDataFrame(pd.DataFrame({"text": texts}))
    got = [r["g"] for r in
           sdf.select(C._shingle_list(sdf.text).alias("g")).collect()]
    for text, grams in zip(texts, got):
        words = text.split()
        want = [" ".join(words[i:i + C.NGRAM])
                for i in range(len(words) - C.NGRAM + 1)]
        assert grams == want, text


def test_incremental_neardup_finds_planted_pairs(spark):
    """Every arriving tail-variant must match its source doc (jaccard
    well above 0.5 for a 1-shingle-tail change), and no pair may point
    at another arrival (corpus side only)."""
    from alma_publish_to_marc_spark.operators import dedup_queries as DQ

    from alma_publish_to_marc_spark.tables import load

    # arrival ids are offset by max(doc_id)+1 (collision-safe at any sf)
    off = load(spark, SF_DIR, "documents") \
        .agg(F.max("doc_id")).collect()[0][0] + 1
    rows = DQ._incremental(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["new_id"] >= off
        assert r["corpus_id"] < off
        assert r["jaccard"] >= 0.5
    # each variant's own source is among its matches
    matched = {(r["new_id"], r["corpus_id"]) for r in rows}
    sources = {n for n, _ in matched}
    for new_id in sources:
        assert (new_id, new_id - off) in matched


def test_quality_classifier_score_bounds(spark):
    rows = C.quality_classifier_score(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["quality_prob"] <= 1.0
        assert r["keep"] == (r["quality_prob"] >= C.CLF_THRESHOLD)
    # non-degenerate at sf0.001: both labels occur
    labels = {r["keep"] for r in rows}
    assert labels == {True, False}


def test_uniform_sample_exact_k_and_deterministic(spark):
    a = C.uniform_sample_exact(spark, SF_DIR).collect()
    b = C.uniform_sample_exact(spark, SF_DIR).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from alma_publish_to_marc_spark.tables import load

    n_docs = load(spark, SF_DIR, "documents").count()
    assert len(a) == min(C.SAMPLE_K, n_docs)
    ranks = sorted(r["sample_rank"] for r in a)
    assert ranks == list(range(1, len(a) + 1))


def test_join_skew_diagnostics_shares(spark):
    rows = sorted(C.join_skew_diagnostics(spark, SF_DIR).collect(),
                  key=lambda r: r["rank"])
    assert rows
    counts = [r["n_rows"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(0 < r["row_share"] <= 1 for r in rows)
    # skew_factor 1.0 == perfectly uniform key
    assert all(r["skew_factor"] > 0 for r in rows)


def test_event_drift_monitor_distributions(spark):
    rows = sorted(C.event_drift_monitor(spark, SF_DIR).collect(),
                  key=lambda r: r["window_start"])
    assert rows
    assert rows[0]["kl_vs_prev"] is None  # no previous window
    starts = [r["window_start"] for r in rows]
    # dense spine: every hour between min and max is present
    for a_t, b_t in zip(starts, starts[1:]):
        assert (b_t - a_t).total_seconds() == 3600, (a_t, b_t)
    for r in rows:
        ps = [r[f"p_{t}"] for t in C._DRIFT_BUCKETS]
        assert all(0 < p <= 1 for p in ps)
        if r["n_events"] == 0:
            # collector-outage hour: a row exists, all probs at the floor
            assert all(p == pytest.approx(1e-6) for p in ps)
        else:
            # probabilities sum to ~1 (up to the epsilon floor + rounding)
            assert abs(sum(ps) - 1.0) < 0.01
    # KL is finite wherever defined
    for r in rows[1:]:
        if r["kl_vs_prev"] is not None:
            assert abs(r["kl_vs_prev"]) < 50


def test_mixture_weighted_sample_expected_counts(spark):
    """Deterministic sample whose per-source size tracks the acceptance
    rate within binomial tolerance (the corpus is near-uniform, so a
    share-vs-weight comparison would just measure hash noise)."""
    import math

    sf = "/root/testdata/sf0.01"  # 500 docs
    a = C.mixture_weighted_sample(spark, sf).collect()
    b = C.mixture_weighted_sample(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert a
    from alma_publish_to_marc_spark.tables import load

    n_docs = {r["source"]: r["count"] for r in
              load(spark, sf, "documents").groupBy("source").count().collect()}
    rate = {}
    got = {}
    for r in a:
        got[r["source"]] = got.get(r["source"], 0) + 1
        rate[r["source"]] = r["accept_rate"]
        assert isinstance(r["clipped"], bool)
    # EVERY corpus source must appear (rates here are ~0.5, so a source
    # missing from the sample means the join or threshold broke)
    assert set(rate) == set(n_docs)
    for s, a_s in rate.items():
        assert 0.0 < a_s <= 1.0
        n, k = n_docs[s], got.get(s, 0)
        assert k <= n
        tol = 4 * math.sqrt(n * a_s * (1 - a_s)) + 1
        assert abs(k - a_s * n) <= tol, (s, k, a_s * n)


def test_curriculum_order_bands_and_density(spark):
    rows = C.curriculum_order(spark, SF_DIR).collect()
    assert rows
    bands = {r["band"] for r in rows}
    assert bands <= {"high", "mid", "low"}
    # positions dense per (band, shard)
    per = {}
    for r in rows:
        per.setdefault((r["band"], r["shard"]), []).append(r["position"])
    for k, ps in per.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), k
    # band assignment consistent with the classifier scores
    scores = {r["doc_id"]: r["quality_prob"]
              for r in C.quality_classifier_score(spark, SF_DIR).collect()}
    for r in rows:
        s = scores[r["doc_id"]]
        want = ("high" if s >= 0.7 else "mid" if s >= 0.5 else "low")
        assert r["band"] == want, (r["doc_id"], s)


def test_minhash_persist_is_released_by_tables_release(spark):
    from alma_publish_to_marc_spark.operators import dedup as D

    tables.release()  # clean slate
    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " + str(i % 3))
         for i in range(12)], ["doc_id", "text"])
    D.minhash_lsh_pairs(df, "doc_id", "text", n=5).count()
    assert len(tables._RELEASE) == 1
    frame = tables._RELEASE[0].__self__  # the recorded df.unpersist
    assert frame.is_cached
    assert tables.release() == 1
    assert not tables._RELEASE and not frame.is_cached


def test_span_removal_hand_case(spark, tmp_path):
    import pandas as pd

    # doc 1+2 share one 8-gram ("t1..t8"); doc 3 is unique; doc 4 short
    shared = " ".join(f"t{i}" for i in range(1, 9))
    pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [shared + " uniqA uniqB",
                 "lead " + shared,
                 " ".join(f"u{i}" for i in range(1, 12)),
                 "a b c"],
    }).to_parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           C.duplicate_span_removal(spark, str(tmp_path)).collect()}
    # docs 1 and 2: the shared 8 words vanish, the rest survives
    assert out[1]["clean_text"] == "uniqA uniqB"
    assert out[1]["n_removed"] == 8
    assert out[2]["clean_text"] == "lead"
    assert out[2]["n_removed"] == 8
    # unique doc untouched
    assert out[3]["n_removed"] == 0
    assert out[3]["clean_text"].startswith("u1 u2")
    # short doc has no spans, hence no removal
    assert out[4]["n_removed"] == 0 and out[4]["clean_text"] == "a b c"


def test_span_removal_consistent_with_span_stats(spark):
    stats = {r["doc_id"]: r for r in
             C.duplicate_ngram_spans(spark, SF_DIR).collect()}
    rem = {r["doc_id"]: r for r in
           C.duplicate_span_removal(spark, SF_DIR).collect()}
    assert stats.keys() == rem.keys()
    for did, s in stats.items():
        # words are removed exactly when duplicated spans exist
        assert (rem[did]["n_removed"] > 0) == (s["n_dup_spans"] > 0)
        assert rem[did]["n_removed"] <= rem[did]["n_words"]


def test_bpe_encode_hand_case(spark, tmp_path):
    import pandas as pd

    # corpus dominated by "abab": merges learn ab then abab...
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["abab abab abab", "abab ab", "xy"],
    }).to_parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in
           C.bpe_encode_docs(spark, str(tmp_path)).collect()}
    # with enough merge rounds every frequent word collapses to 1 symbol
    assert out[1]["n_pretokens"] == 3
    assert out[1]["n_bpe_tokens"] == 3  # "abab" -> one merged symbol
    assert out[2]["n_bpe_tokens"] == 2  # "abab" + "ab", both single syms
    assert out[1]["chars_per_token"] == 4.0


def test_bpe_encode_bounds_on_corpus(spark):
    rows = C.bpe_encode_docs(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # merging only ever shrinks: pretokens <= bpe tokens <= chars
        assert r["n_pretokens"] <= r["n_bpe_tokens"] <= r["n_chars"]
        if r["n_bpe_tokens"]:
            assert r["chars_per_token"] >= 1.0


def test_datacard_shares_and_totals(spark):
    rows = C.corpus_datacard(spark, SF_DIR).collect()
    assert rows
    import duckdb
    n_docs = duckdb.sql(
        f"select count(*) from '{SF_DIR}/documents.parquet'").fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 0.0 < r["dominant_lang_share"] <= 1.0
        assert 0.0 <= r["short_doc_share"] <= 1.0
        assert r["total_tokens"] >= r["n_docs"]  # every doc has >=1 token
        assert r["n_langs"] >= 1


def test_ewma_features_semantics(spark):
    from alma_publish_to_marc_spark.plans import analytics_queries as A

    rows = A._ewma_features(spark, SF_DIR).collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        # first event: no gap, window of exactly itself
        assert evs[0]["gap_minutes"] is None
        assert evs[0]["n_window"] == 1
        assert evs[0]["ewma_value"] == pytest.approx(evs[0]["value"], abs=1e-4)
        assert evs[0]["roll_mean"] == pytest.approx(evs[0]["value"], abs=1e-4)
        for i, r in enumerate(evs):
            assert r["n_window"] == min(i + 1, A.EWMA_W)
            if i:
                assert r["gap_minutes"] >= 0.0
        # hand-check the second event's ewma: (v1 + a*v0) / (1 + a)
        if len(evs) >= 2:
            a = A.EWMA_ALPHA
            want = (evs[1]["value"] + a * evs[0]["value"]) / (1 + a)
            assert evs[1]["ewma_value"] == pytest.approx(want, abs=1e-4)


def test_longest_dup_span_hand_case(spark, tmp_path):
    import pandas as pd

    # docs 1+2 share a 12-word run -> longest span 12 (5 dup starts);
    # doc 3 shares only the minimal 8-gram -> longest span 8
    run12 = " ".join(f"r{i}" for i in range(12))
    run8 = " ".join(f"s{i}" for i in range(8))
    pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "text": [run12 + " endA", "pre " + run12,
                 run8 + " three extra words",
                 "lead-in " + run8,
                 " ".join(f"u{i}" for i in range(15))],
    }).to_parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r["longest_dup_words"] for r in
           C.longest_dup_span(spark, str(tmp_path)).collect()}
    assert out[1] == 12 and out[2] == 12
    assert out[3] == 8 and out[4] == 8
    assert out[5] == 0


def test_longest_dup_span_bounded_by_doc(spark):
    stats = {r["doc_id"]: r for r in
             C.duplicate_ngram_spans(spark, SF_DIR).collect()}
    longest = {r["doc_id"]: r["longest_dup_words"] for r in
               C.longest_dup_span(spark, SF_DIR).collect()}
    for did, s in stats.items():
        if s["n_dup_spans"] == 0:
            assert longest[did] == 0
        else:
            # a run of R dup starts spans R+7 words, R <= n_dup_spans
            assert C.NGRAM <= longest[did] <= s["n_dup_spans"] + C.NGRAM - 1


def test_containment_catches_snippets_jaccard_misses(spark, tmp_path):
    import pandas as pd

    from alma_publish_to_marc_spark.operators import dedup as D

    long_doc = " ".join(f"w{i}" for i in range(60))
    snippet = " ".join(f"w{i}" for i in range(15))
    pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [long_doc, snippet,
                 " ".join(f"z{i}" for i in range(20))],
    }).to_parquet(str(tmp_path / "documents.parquet"))
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    cont = D.containment_pairs(docs, "doc_id", "text",
                               n=5, threshold=0.9).collect()
    jacc = D.jaccard_pairs(docs, "doc_id", "text",
                           n=5, threshold=0.9).collect()
    # containment flags the snippet pair at 1.0; Jaccard at 0.9 misses it
    assert len(cont) == 1
    assert (cont[0]["id_a"], cont[0]["id_b"]) == (1, 2)
    assert cont[0]["containment_b_in_a"] == 1.0
    assert cont[0]["containment_a_in_b"] < 0.5
    assert jacc == []


def test_token_budget_plan_allocates_budget(spark):
    rows = C.token_budget_plan(spark, SF_DIR).collect()
    assert rows
    # targets sum to ~the budget (rounding slack one token per source)
    assert abs(sum(r["target_tokens"] for r in rows) - C.TOKEN_BUDGET) \
        <= len(rows)
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3
    for r in rows:
        assert r["upsampled"] == (r["target_tokens"] > r["tokens_available"])
        assert r["repeat_factor"] > 0
    # temperature < 1 upsamples the smallest source more than the largest
    smallest = min(rows, key=lambda r: r["tokens_available"])
    largest = max(rows, key=lambda r: r["tokens_available"])
    assert smallest["repeat_factor"] > largest["repeat_factor"]


def test_simhash_pairs_catch_planted_variants(spark):
    import duckdb

    from alma_publish_to_marc_spark.operators import dedup as D
    from alma_publish_to_marc_spark.operators.dedup_queries import (
        _near_dup_corpus)

    sf = "/root/testdata/sf0.001"
    off = duckdb.sql(
        f"select max(doc_id) + 1 from '{sf}/documents.parquet'"
    ).fetchone()[0]
    # sf0.001 docs are short enough that the planted tail flips up to
    # 4 of 32 majority votes (measured spread 0-4); the 4x8-bit banding
    # GUARANTEES distance <=3 shares a band and caught all 100 here
    pairs = D.simhash_pairs(_near_dup_corpus(spark, sf),
                            "doc_id", "text", max_hamming=4).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    planted = duckdb.sql(
        f"select doc_id from '{sf}/documents.parquet' where doc_id % 5 = 0"
    ).fetchall()
    for (did,) in planted:
        assert (did, did + off) in found, did
    for r in pairs:
        assert 0 <= r["hamming"] <= 4
