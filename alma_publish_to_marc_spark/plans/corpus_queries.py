"""Training-corpus curation operators beyond the reference surface.

Oracle-checked queries a 100 TB pretraining-data pipeline needs on top
of the dedup/quality/similarity stack that already exists (33 as of
round 10 — the ``QUERIES`` dict and end-of-module registrations are the
authoritative inventory). Landmarks by sub-family:

- Span-level dedup: ``duplicate_ngram_spans`` / ``duplicate_span_removal``
  / ``longest_dup_span`` (the fixed-8-gram signals from "Deduplicating
  Training Data Makes Language Models Better") and, round 10, the
  blocked-suffix-ranking pair ``suffix_lcp_repeats`` /
  ``suffix_repeat_topk`` — longest repeated substrings at ANY length
  via sort-within-block + neighbor LCP, the suffix-array shape.
- Mixing/sampling: ``domain_mixture_weights``, ``token_budget_plan``,
  ``mixture_weighted_sample``, ``uniform_sample_exact``,
  ``systematic_resample``, ``neyman_allocation``, ``curriculum_order``,
  ``training_order_shuffle``.
- Tokenizers: ``vocab_merge_induction``, ``bpe_train_merges``,
  ``bpe_encode_docs``, ``token_stream_packing``.
- Quality/filter audits: ``quality_classifier_score``,
  ``repetition_filter_audit``, ``gopher_rules_audit``,
  ``filter_ablation_matrix``, ``boilerplate_segment_removal``,
  ``corpus_curation_end2end``, ``corpus_datacard``.
- Profiling/stats: ``event_regression_stats``, ``ngram_novelty_profile``,
  ``effective_sample_size``, ``covariate_shift_weights``,
  ``empirical_bayes_shrinkage``, ``weighted_sample_es``,
  ``join_skew_diagnostics``, ``event_drift_monitor``,
  ``greedy_coverage_selection``, and the shuffle QA gate
  ``shuffle_autocorrelation_audit`` (round 10 — same-source adjacency
  vs the exact uniform-permutation expectation per shard).

Scale notes are on each query; nothing collects to the driver in a hot
path (greedy coverage's 1-row-per-round argmax is the sanctioned
k-means idiom), and persisted frames release via tables.release().
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import fan_out, load, on_release, persist

NGRAM = 8  # words per span; 8 keeps the sf0.01 corpus (10-99 words/doc) honest


def _shingles_from_words(w):
    """Word 8-gram list from an already-split words column. The caller
    must project the split into a named column FIRST — this expression
    references ``w`` three times (gate, index range, slice), and an
    inlined split would be recomputed per reference (~3× tokenization
    cost, measured). sequence(1, n) DESCENDS when n < 1 (returns
    [1, 0]) — gate short docs to an empty list instead."""
    # Per-position concat_ws over NGRAM element_at lookups: O(1) array
    # access + ONE string build per shingle. Beats both the old
    # slice+array_join (allocates an 8-slot array per position) and a
    # zip_with chain (quadratic partial-string copying at n=8) — HOF
    # lambdas are interpreted, so per-element constants dominate.
    # The short-doc gate keeps sequence() from descending (n<1 would
    # return [1, 0]).
    idx = F.when(F.size(w) >= NGRAM,
                 F.sequence(F.lit(1), F.size(w) - (NGRAM - 1))) \
           .otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + k) for k in range(NGRAM)]))


def _shingle_list(text):
    """Convenience form over raw text (tests); hot paths should project
    the split and use :func:`_shingles_from_words`."""
    return _shingles_from_words(F.split(F.trim(text), r"\s+"))


def span_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, i, gram_key) for every word-8-gram span of a
    ``(doc_id, w)`` frame — the ONE definition of the span key
    (1-based start, 16-byte ``unhex(md5(gram))``) shared by the span
    stats/removal/longest operators and the streaming gram index, so
    the key can never silently diverge between them."""
    return (docs
            .select("doc_id", F.posexplode(_shingles_from_words(F.col("w")))
                    .alias("i0", "gram"))
            .select("doc_id", (F.col("i0") + 1).alias("i"),
                    F.unhex(F.md5("gram")).alias("gram_key")))


def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-span statistics over word 8-grams.

    A span is "duplicated" when the identical 8-word sequence occurs
    more than once in the whole corpus (within- or cross-document).
    Output: span count, duplicated-span count, and the dup ratio that a
    span-level dedup pass would use as its removal signal.

    Scale: ONE explode (~n_words spans/doc) and ONE gram-key shuffle —
    corpus duplication counts come from ``count() OVER (PARTITION BY
    gram_key)`` on the single shuffled spans frame instead of an
    aggregate-then-join (which paid the word-split + posexplode + md5
    of every corpus 8-gram TWICE, the round-6 driver's only regression
    flag; VERDICT r06 item 1). Keys are 16 fixed ``unhex(md5(gram))``
    bytes — the Zipf-skewed gram text never leaves the map side; DuckDB
    md5 is bit-identical so the oracle groups on the same key.
    ``posexplode_outer`` keeps sub-8-word docs in-flow (ONE documents
    scan; no doc_id re-scan + left join), and those outer rows get a
    per-doc sentinel key so they can't pile into a single NULL window
    partition (skew at 100 TB).
    """
    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    exploded = docs.select(
        "doc_id",
        F.posexplode_outer(_shingles_from_words(F.col("w")))
         .alias("i0", "gram"))
    spans = exploded.select(
        "doc_id",
        F.col("gram").isNotNull().alias("is_span"),
        F.coalesce(
            F.unhex(F.md5("gram")),
            F.unhex(F.md5(F.concat(F.lit("\x00short\x00"),
                                   F.col("doc_id").cast("string")))),
        ).alias("gram_key"))
    wk = Window.partitionBy("gram_key")
    return (
        spans.withColumn("cnt", F.count(F.lit(1)).over(wk))
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("is_span").cast("long")).alias("n_spans"),
            F.sum(F.when(F.col("is_span") & (F.col("cnt") > 1), 1)
                  .otherwise(0)).alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            F.col("n_spans").cast("long").alias("n_spans"),
            F.col("n_dup_spans").cast("long").alias("n_dup_spans"),
            F.round(
                F.col("n_dup_spans") / F.greatest(F.col("n_spans"), F.lit(1)),
                4,
            ).alias("dup_ratio"),
        )
    )


_DUP_SPANS_SQL = rf"""
WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
pos AS (
    SELECT doc_id, w,
           unnest(range(1, greatest(len(w) - {NGRAM - 1}, 0) + 1)) AS i
    FROM words
),
spans AS (
    SELECT doc_id,
           unhex(md5(array_to_string(w[i : i + {NGRAM - 1}], ' '))) AS gram_key
    FROM pos
),
counts AS (SELECT gram_key, count(*) AS cnt FROM spans GROUP BY gram_key),
per_doc AS (
    SELECT s.doc_id, count(*) AS n_spans,
           sum(CASE WHEN c.cnt > 1 THEN 1 ELSE 0 END) AS n_dup_spans
    FROM spans s JOIN counts c USING (gram_key)
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(coalesce(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       round(coalesce(p.n_dup_spans, 0)
             / greatest(coalesce(p.n_spans, 0), 1), 4) AS dup_ratio
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def duplicate_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup REWRITE: delete every word covered by a
    corpus-duplicated 8-gram and emit the cleaned text (the removal
    pass of "Deduplicating Training Data Makes Language Models Better"
    — :func:`duplicate_ngram_spans` computes the signal, this applies
    it). Word j is removed iff some duplicated span [s, s+7] covers it.

    Scale: identical shuffle profile to the stats query — ONE explode
    and ONE gram-key shuffle (``count() OVER (PARTITION BY gram_key)``
    replaces the old aggregate-then-join that exploded the corpus
    twice; VERDICT r06 item 1), the split docs frame persisted
    (tracked, released via :func:`tables.release`) so the rewrite
    branch reads the cached split instead of re-scanning/re-splitting
    documents — plus one doc_id-keyed aggregation collecting each doc's
    duplicated span STARTS (bounded by words/doc, not corpus size).
    The rewrite itself is a scan-fused array filter: per word, an
    exists() over the doc's dup-start list — O(words × dup_starts)
    per doc, both factors document-local (a production variant would
    pre-merge starts into disjoint intervals for O(words + starts);
    at ≤1e3 words/doc the quadratic corner is noise). The start list
    order never matters (pure membership test), so collect_list's
    nondeterministic order is safe.
    """
    docs = persist(load(spark, sf_dir, "documents")
                .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w")))
    spans = span_keys(docs)
    dup_starts = (spans
                  .withColumn("cnt", F.count(F.lit(1))
                              .over(Window.partitionBy("gram_key")))
                  .where(F.col("cnt") > 1)
                  .groupBy("doc_id")
                  .agg(F.collect_list("i").alias("starts")))
    joined = (docs.join(dup_starts, "doc_id", "left")
              .select("doc_id", "w",
                      F.coalesce("starts", F.array().cast("array<int>"))
                       .alias("starts")))
    kept = F.filter(
        "w",
        lambda t, j: ~F.exists(
            "starts",
            lambda s: (s <= j + 1) & (j + 1 <= s + (NGRAM - 1))))
    return joined.select(
        "doc_id",
        F.size("w").cast("int").alias("n_words"),
        (F.size("w") - F.size(kept)).cast("int").alias("n_removed"),
        F.array_join(kept, " ").alias("clean_text"))


_SPAN_REMOVAL_SQL = rf"""
WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
pos AS (
    SELECT doc_id, w,
           unnest(range(1, greatest(len(w) - {NGRAM - 1}, 0) + 1)) AS i
    FROM words
),
spans AS (
    SELECT doc_id, i,
           unhex(md5(array_to_string(w[i : i + {NGRAM - 1}], ' '))) AS gram_key
    FROM pos
),
counts AS (SELECT gram_key, count(*) AS cnt FROM spans GROUP BY gram_key),
dup_starts AS (
    SELECT s.doc_id, list(s.i) AS starts
    FROM spans s JOIN counts c USING (gram_key)
    WHERE c.cnt > 1
    GROUP BY s.doc_id
),
joined AS (
    SELECT d.doc_id, d.w, coalesce(ds.starts, []) AS starts
    FROM words d LEFT JOIN dup_starts ds USING (doc_id)
),
cleaned AS (
    SELECT doc_id, w,
           list_filter(w, (t, j) ->
               len(list_filter(starts,
                   s -> s <= j AND j <= s + {NGRAM - 1})) = 0) AS kept
    FROM joined
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words,
       CAST(len(w) - len(kept) AS INT) AS n_removed,
       -- array_to_string([]) is NULL in DuckDB but '' under Spark's
       -- array_join; a fully-removed doc must read as empty text
       coalesce(array_to_string(kept, ' '), '') AS clean_text
FROM cleaned
"""


ALPHA = 0.5  # mixture temperature: w_i ∝ share_i^alpha (alpha<1 upweights tails)
TOKEN_BUDGET = 1_000_000  # training-run token budget (literal plan input)


def token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-run token accounting: allocate a fixed token budget
    across sources by the temperature-scaled mixture rule and report,
    per source, the available tokens, the allocated target, and the
    REPEAT FACTOR (epochs over that source's data — >1 means the mix
    upsamples it; the number a data plan caps to avoid memorizing small
    domains). The planning pass run before every pretraining mix is
    frozen.

    Scale: one map-side-combined aggregation to #sources rows; the
    normalization windows run on that tiny frame. Token counts are
    scan-side split sizes; the documents table never reshuffles.
    """
    per_src = (load(spark, sf_dir, "documents")
               .select("source",
                       F.size(F.split(F.trim("text"), r"\s+"))
                        .alias("n_tokens"))
               .groupBy("source")
               .agg(F.sum("n_tokens").cast("long").alias("tokens_available")))
    w = Window.partitionBy()
    share = F.col("tokens_available") / F.sum("tokens_available").over(w)
    raw = F.pow(share, F.lit(ALPHA))
    weight = raw / F.sum(raw).over(w)
    target = F.round(weight * TOKEN_BUDGET, 0).cast("long")
    return per_src.select(
        "source",
        "tokens_available",
        F.round(weight, 6).alias("mix_weight"),
        target.alias("target_tokens"),
        F.round(target / F.col("tokens_available"), 4)
         .alias("repeat_factor"),
        (target > F.col("tokens_available")).alias("upsampled"))


_TOKEN_BUDGET_SQL = rf"""
WITH per_src AS (
    SELECT source,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS tokens_available
    FROM documents GROUP BY source
),
shared AS (
    SELECT source, tokens_available,
           pow(tokens_available / sum(tokens_available) OVER (), {ALPHA})
               AS raw
    FROM per_src
),
planned AS (
    SELECT source, tokens_available,
           raw / sum(raw) OVER () AS weight,
           CAST(round(raw / sum(raw) OVER () * {TOKEN_BUDGET}, 0) AS BIGINT)
               AS target_tokens
    FROM shared
)
SELECT source, tokens_available,
       round(weight, 6) AS mix_weight,
       target_tokens,
       round(target_tokens / tokens_available, 4) AS repeat_factor,
       target_tokens > tokens_available AS upsampled
FROM planned
"""


def longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LONGEST duplicated span, in words — the exact-
    substring dedup signal the 8-gram family approximates: a maximal
    run of R consecutive duplicated 8-gram starts covers R+7 words of
    text that occur verbatim elsewhere in the corpus. Docs whose
    longest span rivals their length are wholesale copies; short spans
    are quotes/boilerplate.

    Scale: the span/count stages are the md5-keyed shape of
    `duplicate_ngram_spans`; run detection is the classic gaps-and-
    islands trick — ``i - row_number()`` is constant within a
    consecutive run — so it costs one doc-keyed window plus one
    (doc, run)-keyed aggregation over DUPLICATED starts only (bounded
    by words/doc). No arrays ride the shuffles; every row is
    (doc_id, int).
    """
    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    spans = span_keys(docs)
    counts = spans.groupBy("gram_key").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (spans.join(counts, "gram_key")
           .where(F.col("cnt") > 1)
           .select("doc_id", "i"))
    wrun = Window.partitionBy("doc_id").orderBy("i")
    runs = (dup.withColumn("grp", F.col("i") - F.row_number().over(wrun))
            .groupBy("doc_id", "grp")
            .agg(F.count(F.lit(1)).alias("run_len")))
    longest = runs.groupBy("doc_id").agg(
        (F.max("run_len") + (NGRAM - 1)).cast("int")
        .alias("longest_dup_words"))
    base = load(spark, sf_dir, "documents").select("doc_id")
    return base.join(longest, "doc_id", "left").select(
        "doc_id",
        F.coalesce("longest_dup_words", F.lit(0)).cast("int")
         .alias("longest_dup_words"))


_LONGEST_SPAN_SQL = rf"""
WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
),
pos AS (
    SELECT doc_id, w,
           unnest(range(1, greatest(len(w) - {NGRAM - 1}, 0) + 1)) AS i
    FROM words
),
spans AS (
    SELECT doc_id, i,
           unhex(md5(array_to_string(w[i : i + {NGRAM - 1}], ' '))) AS gram_key
    FROM pos
),
counts AS (SELECT gram_key, count(*) AS cnt FROM spans GROUP BY gram_key),
dup AS (
    SELECT s.doc_id, s.i
    FROM spans s JOIN counts c USING (gram_key) WHERE c.cnt > 1
),
grps AS (
    SELECT doc_id,
           i - row_number() OVER (PARTITION BY doc_id ORDER BY i) AS grp
    FROM dup
),
runs AS (
    SELECT doc_id, grp, count(*) AS run_len FROM grps GROUP BY doc_id, grp
),
longest AS (
    SELECT doc_id, CAST(max(run_len) + {NGRAM - 1} AS INT)
               AS longest_dup_words
    FROM runs GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(l.longest_dup_words, 0) AS INT) AS longest_dup_words
FROM documents d LEFT JOIN longest l USING (doc_id)
"""


SHORT_DOC_CHARS = 100  # data-card "short document" threshold


def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-card rollup — the summary table a curation run
    publishes alongside the corpus (doc/char/token volumes, language
    mix, short-doc share per source). One row per source.

    Scale: two map-side-combined aggregations (per-source stats, and
    per-(source, lang) counts for the dominant language) plus a
    source-keyed join of two source-cardinality frames — every shuffle
    is over per-group rows, never documents. Token counts are computed
    scan-side from the split; nothing explodes.
    """
    docs = load(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"))
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.round(F.sum(F.when(F.col("n_chars") < SHORT_DOC_CHARS, 1)
                      .otherwise(0)) / F.count(F.lit(1)), 4)
         .alias("short_doc_share"))
    lang_counts = docs.groupBy("source", "lang") \
        .agg(F.count(F.lit(1)).alias("lc"))
    w = Window.partitionBy("source").orderBy(F.desc("lc"), F.asc("lang"))
    dominant = (lang_counts.withColumn("r", F.row_number().over(w))
                .where(F.col("r") == 1)
                .select("source", F.col("lang").alias("dominant_lang"),
                        F.col("lc").alias("dom_count")))
    return (stats.join(dominant, "source")
            .select("source", "n_docs", "total_chars", "avg_chars",
                    "total_tokens", "avg_tokens", "n_langs",
                    "dominant_lang",
                    F.round(F.col("dom_count") / F.col("n_docs"), 4)
                     .alias("dominant_lang_share"),
                    "short_doc_share"))


_DATACARD_SQL = rf"""
WITH docs AS (
    SELECT source, lang, n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
    FROM documents
),
stats AS (
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(n_tokens), 4) AS avg_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(sum(CASE WHEN n_chars < {SHORT_DOC_CHARS} THEN 1 ELSE 0 END)
                 / count(*), 4) AS short_doc_share
    FROM docs GROUP BY source
),
lang_counts AS (
    SELECT source, lang, count(*) AS lc FROM docs GROUP BY source, lang
),
dominant AS (
    SELECT source, lang AS dominant_lang, lc AS dom_count
    FROM (SELECT source, lang, lc,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY lc DESC, lang ASC) AS r
          FROM lang_counts)
    WHERE r = 1
)
SELECT s.source, s.n_docs, s.total_chars, s.avg_chars,
       s.total_tokens, s.avg_tokens, s.n_langs,
       d.dominant_lang,
       round(d.dom_count / s.n_docs, 4) AS dominant_lang_share,
       s.short_doc_share
FROM stats s JOIN dominant d USING (source)
"""


def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source-mixing weights.

    Per source: doc/char volume, corpus share p_i, and the normalized
    sampling weight ``p_i^alpha / sum_j p_j^alpha`` (alpha = 0.5) plus
    the expected draw count per 10k sampled documents. This is the
    standard rebalancing rule for multi-source pretraining mixes.
    (Static size-based rule; the LEARNED excess-loss trajectory is the
    separate :func:`doremi_mixture_reweight`, round 11.)

    Scale: one aggregation to ~#sources rows, then a windowed normalize
    over that tiny frame — the window runs on a single partition of a
    handful of rows, which is exactly right (the per-source table is
    never large; the *documents* table never moves).
    """
    per_src = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").alias("n_chars"))
    )
    w = Window.partitionBy()
    share = F.col("n_chars") / F.sum("n_chars").over(w)
    raw = F.pow(share, F.lit(ALPHA))
    return per_src.select(
        "source",
        "n_docs",
        "n_chars",
        F.round(share, 6).alias("char_share"),
        F.round(raw / F.sum(raw).over(w), 6).alias("mix_weight"),
        F.round(raw / F.sum(raw).over(w) * 10000, 2).alias("docs_per_10k"),
    )


_MIXTURE_SQL = f"""
WITH per_src AS (
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY source
),
shared AS (
    SELECT source, n_docs, n_chars,
           n_chars / sum(n_chars) OVER () AS share,
           pow(n_chars / sum(n_chars) OVER (), {ALPHA}) AS raw
    FROM per_src
)
SELECT source, n_docs, n_chars,
       round(share, 6) AS char_share,
       round(raw / sum(raw) OVER (), 6) AS mix_weight,
       round(raw / sum(raw) OVER () * 10000, 2) AS docs_per_10k
FROM shared
"""


SEED = "42"
N_SHARD_HEX = 1  # first hex char of the key → 16 shards


def training_order_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded global shuffle into training shards.

    Every document gets a pseudorandom but reproducible position:
    ``key = md5(doc_id || ':' || seed)``, shard = the key's first hex
    digit (16 shards), position = rank of the key within its shard. Two
    runs with the same seed produce byte-identical training order —
    the property a resumable data loader needs.

    Scale: this is ONE hash-partitioned shuffle (exchange on shard,
    sort by key within partitions); at 100 TB you'd raise the digit
    count so shards ≈ output files and let each task write its shard
    sorted — no global sort, no driver involvement. The md5 keys are
    uniform, so shards are balanced by construction (no skew handling
    needed, unlike natural keys).
    """
    docs = load(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + SEED)))
    keyed = docs.select(
        "doc_id", key.alias("shuffle_key"),
        F.substring(key, 1, N_SHARD_HEX).alias("shard"))
    pos = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shard",
        F.row_number().over(pos).cast("long").alias("position"))


_SHUFFLE_SQL = f"""
WITH keyed AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':{SEED}') AS shuffle_key
    FROM documents
)
SELECT doc_id,
       substr(shuffle_key, 1, {N_SHARD_HEX}) AS shard,
       CAST(row_number() OVER (
            PARTITION BY substr(shuffle_key, 1, {N_SHARD_HEX})
            ORDER BY shuffle_key, doc_id) AS BIGINT) AS position
FROM keyed
"""


def write_training_shards(docs: DataFrame, out_dir: str,
                          seed: str = SEED) -> None:
    """Materialize the seeded training order (see
    ``training_order_shuffle``) as on-disk shards: one directory per
    shard, rows inside each file sorted by the shuffle key, so a data
    loader can stream shard files sequentially and replay the exact
    order from any position.

    Plan shape: ``repartition(shard)`` is the single shuffle (16 hash
    partitions here; raise N_SHARD_HEX so partitions ≈ target file
    count at real scale), then ``sortWithinPartitions`` sorts each
    shard locally during the write — there is NO global sort and no
    range exchange. Writers emit one file per (task, shard) via
    partitionBy, all executor-side."""
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":" + seed)))
    # every input column rides along — a shard must carry the content a
    # loader trains on, not just ids
    keyed = docs.select(
        "*", key.alias("shuffle_key"),
        F.substring(key, 1, N_SHARD_HEX).alias("shard"))
    # sort key list leads with the partition column: the dynamic-
    # partition writer requires rows ordered by shard and would insert
    # its own (unstable) sort otherwise, losing the shuffle-key order
    (keyed.repartition("shard")
     .sortWithinPartitions("shard", "shuffle_key")
     .write.mode("overwrite").partitionBy("shard").parquet(out_dir))


def event_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profiling aggregates: n, mean, sample stddev and
    variance of ``value``, covariance / Pearson correlation / OLS slope
    and intercept of ``value`` against hour-of-day.

    All second-moment aggregates are single-pass, map-side-combinable
    built-ins (Spark merges per-partition (n, mean, M2, C2) states), so
    the whole query is one partial-aggregated shuffle to #event_types
    rows — the profiling shape that stays cheap at any corpus size.
    Results round to 4 dp: the merge order differs between engines, so
    the last bits of a double are not contractual.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", "value", F.hour("ts").cast("double").alias("h"))
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("mean_value"),
        F.round(F.stddev_samp("value"), 4).alias("sd_value"),
        F.round(F.var_samp("value"), 4).alias("var_value"),
        F.round(F.covar_samp("value", "h"), 4).alias("covar_vh"),
        F.round(F.corr("value", "h"), 4).alias("corr_vh"),
        F.round(F.regr_slope("value", "h"), 4).alias("slope_vh"),
        F.round(F.regr_intercept("value", "h"), 4).alias("intercept_vh"),
    )


_REGR_SQL = """
SELECT event_type,
       count(*) AS n,
       round(avg(value), 4) AS mean_value,
       round(stddev_samp(value), 4) AS sd_value,
       round(var_samp(value), 4) AS var_value,
       round(covar_samp(value, CAST(hour(ts) AS DOUBLE)), 4) AS covar_vh,
       round(corr(value, CAST(hour(ts) AS DOUBLE)), 4) AS corr_vh,
       round(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 4) AS slope_vh,
       round(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 4) AS intercept_vh
FROM events
GROUP BY event_type
"""


QUALITY_MIN = 0.5
DUP_RATIO_MAX = 0.2


def corpus_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation funnel as ONE declarative plan: language ID →
    quality score → duplicated-span (boilerplate) ratio → benchmark
    decontamination, producing a per-document verdict with the first
    failing stage as ``drop_reason`` (the audit trail a data-governance
    review asks for) and a ``kept`` flag for the surviving corpus.

    Composition, not re-implementation: each stage is the SAME operator
    that runs standalone (`doc_lang_id`, `doc_quality_score`,
    `duplicate_ngram_spans`, `benchmark_decontamination`), joined back
    on doc_id. Catalyst plans the per-doc scalar stages into one scan;
    the two aggregate stages (span counts, contamination) each keep
    their own documented shuffle shape. At 100 TB the doc_id joins are
    hash joins on the natural key with AQE free to broadcast the small
    contamination side — no stage materializes to the driver.
    """
    from ..functions import text as T
    from ..functions import text_queries as TQ

    # fan_out: the scalar-scoring branch and the 8-gram explode branch
    # are both scan-fused per-row-heavy work; a single-row-group input
    # serializes each on one core (r11 profile: three single-task
    # stages of 1-2 s each). The exchange is reused across branches.
    docs = fan_out(load(spark, sf_dir, "documents"), "doc_id")
    scalars = docs.select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang_pred"),
        T.quality_score(F.col("text")).alias("quality"),
    )
    # Span-dup and decontamination both explode the SAME word 8-grams
    # (NGRAM == TQ._DECON_N): fuse them — one explode, one shuffle keyed
    # by the 16-byte unhex(md5(gram)) span key (the gram string never
    # leaves the map side) that carries both the corpus-wide occurrence
    # count and the benchmark-membership count, one doc-keyed aggregate
    # for both verdict inputs. The standalone queries stay as the
    # executable spec; the oracle SQL composes them, so this fusion is
    # value-checked against the unfused definition every round.
    assert NGRAM == TQ._DECON_N
    sh = (docs
          .select("doc_id",
                  (F.col("doc_id") % TQ._DECON_BENCH_MOD == 0).alias("is_bench"),
                  F.split(F.trim("text"), r"\s+").alias("w"))
          .select("doc_id", "is_bench",
                  F.explode(_shingles_from_words(F.col("w"))).alias("gram"))
          .select("doc_id", "is_bench",
                  F.unhex(F.md5("gram")).alias("gram_key")))
    # corpus-wide gram counts via count()/sum() OVER (PARTITION BY
    # gram_key) on the single exploded frame — the same restructure the
    # standalone span queries got in r06 (aggregate-then-join-back paid
    # the split + explode + md5 of every corpus 8-gram TWICE: the two
    # join inputs are different subtrees, so ReuseExchange cannot
    # dedup them). One explode, one gram-key exchange, one less join.
    wk = Window.partitionBy("gram_key")
    annotated = sh.select(
        "doc_id", "is_bench", "gram_key",
        F.count(F.lit(1)).over(wk).alias("cnt"),
        F.sum(F.when(F.col("is_bench"), 1).otherwise(0)).over(wk)
         .alias("bench_cnt"))
    per_doc = (
        annotated.where(~F.col("is_bench"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
             .alias("n_dup_spans"),
            F.countDistinct(F.when(F.col("bench_cnt") > 0, F.col("gram_key")))
             .alias("n_contaminated"),
        )
        .select(
            "doc_id",
            F.round(F.col("n_dup_spans")
                    / F.greatest(F.col("n_spans"), F.lit(1)), 4)
             .alias("dup_ratio"),
            F.col("n_contaminated").cast("long").alias("n_contaminated"),
        )
    )
    joined = (
        docs.select("doc_id")
        .where(F.col("doc_id") % TQ._DECON_BENCH_MOD != 0)
        .join(scalars, "doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id", "lang_pred", "quality",
            F.coalesce("dup_ratio", F.lit(0.0)).alias("dup_ratio"),
            F.coalesce("n_contaminated", F.lit(0))
             .cast("long").alias("n_contaminated"),
        )
    )
    # severity order: unusable (lang/quality) → leakage (contaminated,
    # reported ahead of boilerplate: an eval-leaked doc must never be
    # explained away as mere duplication) → boilerplate
    reason = (
        F.when(F.col("lang_pred") == "und", F.lit("lang"))
        .when(F.col("quality") < QUALITY_MIN, F.lit("quality"))
        .when(F.col("n_contaminated") > 0, F.lit("contaminated"))
        .when(F.col("dup_ratio") >= DUP_RATIO_MAX, F.lit("boilerplate"))
        .otherwise(F.lit("kept"))
    )
    return joined.withColumn("drop_reason", reason).withColumn(
        "kept", F.col("drop_reason") == "kept")


def _curation_sql() -> str:
    from ..functions import text_queries as TQ

    return f"""
WITH lang AS (SELECT doc_id, lang_pred FROM ({TQ._lang_id_sql()})),
qual AS (SELECT doc_id, quality FROM ({TQ._quality_sql()})),
spans AS (SELECT doc_id, dup_ratio FROM ({_DUP_SPANS_SQL})),
contam AS (SELECT doc_id, n_contaminated_shingles FROM ({TQ._DECON_SQL})),
verdict AS (
    SELECT d.doc_id, l.lang_pred, q.quality, s.dup_ratio,
           CAST(coalesce(c.n_contaminated_shingles, 0) AS BIGINT)
               AS n_contaminated,
           CASE WHEN l.lang_pred = 'und' THEN 'lang'
                WHEN q.quality < {QUALITY_MIN} THEN 'quality'
                WHEN coalesce(c.n_contaminated_shingles, 0) > 0
                    THEN 'contaminated'
                WHEN s.dup_ratio >= {DUP_RATIO_MAX} THEN 'boilerplate'
                ELSE 'kept' END AS drop_reason
    FROM documents d
    JOIN lang l USING (doc_id)
    JOIN qual q USING (doc_id)
    JOIN spans s USING (doc_id)
    LEFT JOIN contam c USING (doc_id)
    WHERE d.doc_id % {TQ._DECON_BENCH_MOD} <> 0
)
SELECT *, drop_reason = 'kept' AS kept FROM verdict
"""


# Fixed logistic-regression weights for the classifier-scoring query:
# (intercept, n_tokens/100, stopword_ratio, punct_ratio, avg_token_len/10).
# Stand-ins for trained coefficients — the serving plan is what matters.
CLF_W = (-1.5, 1.2, 3.0, -8.0, 0.7)
CLF_THRESHOLD = 0.5


def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve a trained quality classifier over the corpus — the
    fasttext-style filter step of a pretraining pipeline, expressed as
    pure column math: featurize (token count, stopword ratio,
    punctuation ratio, average token length), apply fixed logistic-
    regression weights, sigmoid to a probability, threshold to a
    keep/drop label.

    Scale: zero shuffles — featurization and scoring fuse into the
    scan, so throughput is parquet-read-bound. Swapping in real
    coefficients (or a quantized MLP as a Pandas UDF over the same
    feature columns) changes only the scoring expression, not the plan.
    Weights are literals in both engines, so the oracle is exact to the
    4-dp rounding.
    """
    from ..functions import text as T

    docs = load(spark, sf_dir, "documents")
    w0, w1, w2, w3, w4 = CLF_W
    z = (F.lit(w0)
         + F.lit(w1) * (T.token_count(F.col("text")) / 100.0)
         + F.lit(w2) * T.stopword_ratio(F.col("text"))
         + F.lit(w3) * T.punct_ratio(F.col("text"))
         + F.lit(w4) * (T.avg_token_len(F.col("text")) / 10.0))
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 4)
    return docs.select(
        "doc_id",
        prob.alias("quality_prob"),
        (prob >= CLF_THRESHOLD).alias("keep"),
    )


def _clf_sql() -> str:
    from ..functions import text_queries as TQ

    toks = TQ.SQL_TOKS
    stop = TQ.sql_stopword_ratio()
    punct = TQ.sql_punct_ratio()
    atl = TQ.sql_avg_token_len()
    w0, w1, w2, w3, w4 = CLF_W
    z = (f"({w0} + {w1} * (len({toks}) / 100.0) + {w2} * {stop} "
         f"+ {w3} * {punct} + {w4} * ({atl} / 10.0))")
    return f"""
SELECT doc_id,
       round(1.0 / (1.0 + exp(-{z})), 4) AS quality_prob,
       round(1.0 / (1.0 + exp(-{z})), 4) >= {CLF_THRESHOLD} AS keep
FROM documents
"""


MERGE_TOP_K = 20


def vocab_merge_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First step of BPE vocabulary training, distributed: build the
    word-frequency table from the corpus pre-tokenizer, then count
    adjacent character pairs weighted by word frequency and rank the
    top merge candidates (count desc, pair asc for determinism).

    Scale shape: the corpus is touched ONCE (explode pretokens →
    map-side-combined count); everything after runs on the *vocabulary*
    table (distinct pre-tokens), which is orders of magnitude smaller
    and essentially constant in corpus size (Heaps' law). A full BPE
    trainer loops this pair-count + merge step K times — each iteration
    is an aggregation on the vocab table only, so the driver-paced loop
    never rescans the corpus. Ranking the final candidate table is a
    single small sort, not a corpus sort.
    """
    from ..functions import text as T

    docs = load(spark, sf_dir, "documents")
    words = (docs
             .select(F.explode(T.bpe_pretokens(F.col("text"))).alias("tok"))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("word_count")))
    pairs = (words
             .where(F.length("tok") >= 2)
             .select("word_count",
                     F.explode(F.transform(
                         F.sequence(F.lit(1), F.length("tok") - 1),
                         lambda i: F.substring(F.col("tok"), i, F.lit(2)),
                     )).alias("pair")))
    counts = pairs.groupBy("pair").agg(
        F.sum("word_count").alias("pair_count"))
    w = Window.orderBy(F.desc("pair_count"), F.asc("pair"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= MERGE_TOP_K)
            .select("rank", "pair", "pair_count"))


def _vocab_merge_sql() -> str:
    from ..functions import text as T

    return rf"""
WITH words AS (
    SELECT tok, count(*) AS word_count
    FROM (SELECT unnest(regexp_extract_all(lower(text),
                        '{T.BPE_PRETOKEN_RE}')) AS tok
          FROM documents)
    GROUP BY tok
),
pos AS (
    SELECT tok, word_count, unnest(range(1, length(tok))) AS i
    FROM words WHERE length(tok) >= 2
),
counts AS (
    SELECT substr(tok, i, 2) AS pair,
           CAST(sum(word_count) AS BIGINT) AS pair_count
    FROM pos GROUP BY 1
),
ranked AS (
    SELECT pair, pair_count,
           row_number() OVER (ORDER BY pair_count DESC, pair ASC) AS rank
    FROM counts
)
SELECT CAST(rank AS INT) AS rank, pair, pair_count
FROM ranked WHERE rank <= {MERGE_TOP_K}
"""


BPE_K = 8          # merge rounds for the full trainer
_BPE_SEP = "\x1f"  # symbol delimiter; pre-tokens containing it are dropped
                   # (identically in both engines) so it can never be data


def bpe_train_merges(spark: SparkSession, sf_dir: str,
                     k: int = BPE_K) -> DataFrame:
    """The FULL BPE trainer loop — ``BPE_K`` merge rounds, driver-paced
    (the same shape as ``connected_components``): each round counts
    adjacent symbol pairs weighted by word frequency, picks the argmax
    pair (count desc, pair asc — deterministic), and rewrites every
    word's symbol sequence with that pair merged. Extends
    :func:`vocab_merge_induction` (the single-round spec) to the
    iterative algorithm that actually induces a vocabulary — the
    data-derived analog of the reference's hard-coded tag specs
    (marc/helper.py:21-84 drives extraction from a fixed table; here
    the table is learned from the corpus).

    Word state is a delimiter-framed string — each symbol wrapped as
    ``\\x1f sym \\x1f`` and concatenated — so one merge round is a
    single non-overlapping left-to-right ``replace`` of
    ``\\x1f a \\x1f\\x1f b \\x1f`` with ``\\x1f ab \\x1f``: exactly
    BPE's greedy merge semantics ("aaa" + merge(a,a) → [aa, a]), and
    ``replace`` computes identically in Spark and DuckDB (whose oracle
    unrolls the K rounds as CTEs).

    Scale: the corpus is scanned ONCE (pre-token explode → map-side
    combined count into the persisted vocab table); every round after
    runs on the vocab table only — ~Heaps'-law constant in corpus size
    — and ships exactly ONE row (the argmax pair) to the driver. The
    K replace rewrites stay lazy column expressions over the same
    persisted vocab, so no round rescans or reshuffles anything
    corpus-sized.
    """
    merges = _trained_merge_list(spark, sf_dir, k)
    return spark.createDataFrame(
        merges,
        schema="rank int, pair_a string, pair_b string, "
               "merged string, pair_count bigint")


def _trained_merge_list(spark: SparkSession, sf_dir: str,
                        k: int = BPE_K) -> list[tuple]:
    """The trainer loop itself; returns [(rank, a, b, merged, count)].
    Shared by :func:`bpe_train_merges` (emits it as a DataFrame) and
    :func:`bpe_encode_docs` (bakes it into the encode expressions)."""
    from ..functions import text as T

    docs = load(spark, sf_dir, "documents")
    words = (docs
             .select(F.explode(T.bpe_pretokens(F.col("text"))).alias("tok"))
             .where(~F.col("tok").contains(_BPE_SEP))
             .groupBy("tok").agg(F.count(F.lit(1)).alias("word_count"))
             .persist())
    sep2 = _BPE_SEP * 2
    state = F.concat(F.lit(_BPE_SEP),
                     F.array_join(F.split(F.col("tok"), ""), sep2),
                     F.lit(_BPE_SEP))
    merges: list[tuple] = []
    try:
        for rank in range(1, k + 1):
            syms = F.filter(F.split(state, _BPE_SEP),
                            lambda s: s != F.lit(""))
            idx = F.when(F.size(syms) >= 2,
                         F.sequence(F.lit(1), F.size(syms) - 1)) \
                   .otherwise(F.array().cast("array<int>"))
            pair = F.explode(F.transform(idx, lambda i: F.struct(
                F.element_at(syms, i).alias("a"),
                F.element_at(syms, i + 1).alias("b"))))
            counts = (words.select("word_count", pair.alias("p"))
                      .groupBy("p.a", "p.b")
                      .agg(F.sum("word_count").alias("pair_count")))
            best = (counts.orderBy(F.desc("pair_count"),
                                   F.asc("a"), F.asc("b"))
                    .limit(1).collect())
            if not best:
                break
            a, b, cnt = best[0]["a"], best[0]["b"], best[0]["pair_count"]
            merges.append((rank, a, b, a + b, int(cnt)))
            state = F.replace(
                state,
                F.lit(f"{_BPE_SEP}{a}{sep2}{b}{_BPE_SEP}"),
                F.lit(f"{_BPE_SEP}{a}{b}{_BPE_SEP}"))
    finally:
        words.unpersist()
    return merges


def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED vocabulary — the other half
    of the BPE story (:func:`bpe_train_merges` learns the merge list;
    this applies it): every document's pre-tokens are rewritten through
    the K merges in rank order and the per-doc token counts reported —
    the pass that sizes a training run (tokens per doc / per corpus)
    after the tokenizer is frozen.

    Scale: the trainer cost is unchanged (one corpus scan into the
    persisted vocab table + K vocab-sized rounds, one argmax row per
    round to the driver). The ENCODE pass is a single corpus scan with
    the merge list baked in as literal expressions — exactly how a
    production tokenizer ships its frozen vocab to executors (broadcast
    constants), so it's scan-fused: zero shuffles, zero UDFs, per-token
    chained non-overlapping ``replace`` identical in both engines.

    Greedy-application caveat (documented, intentional): like the
    trainer's rewrite, merges apply in RANK order, each one globally
    left-to-right — the reference BPE algorithm. A doc containing
    "abab" under merges [ab, ba] yields [ab, ab], never [a, ba, b].
    """
    merges = _trained_merge_list(spark, sf_dir, BPE_K)
    sep, sep2 = _BPE_SEP, _BPE_SEP * 2

    def encoded_syms(t):
        state = F.concat(F.lit(sep),
                         F.array_join(F.split(t, ""), sep2), F.lit(sep))
        for _rank, a, b, _m, _cnt in merges:
            state = F.replace(state,
                              F.lit(f"{sep}{a}{sep2}{b}{sep}"),
                              F.lit(f"{sep}{a}{b}{sep}"))
        return F.size(F.filter(F.split(state, sep), lambda s: s != F.lit("")))

    from ..functions import text as T

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", T.bpe_pretokens(F.col("text")).alias("toks0"))
            .select("doc_id",
                    F.filter("toks0",
                             lambda t: ~t.contains(sep)).alias("toks")))
    n_chars = F.aggregate("toks", F.lit(0),
                          lambda acc, t: acc + F.length(t))
    n_bpe = F.aggregate(F.transform("toks", encoded_syms), F.lit(0),
                        lambda acc, x: acc + x)
    return docs.select(
        "doc_id",
        F.size("toks").cast("int").alias("n_pretokens"),
        n_chars.cast("int").alias("n_chars"),
        n_bpe.cast("int").alias("n_bpe_tokens"),
        F.round(n_chars / F.nullif(n_bpe.cast("int"), F.lit(0)), 4)
         .alias("chars_per_token"))


def _bpe_shared_ctes() -> list[str]:
    """The trainer's CTE chain (words, v0, per-round s/i/p/b/v) shared
    by the train and encode oracles."""
    from ..functions import text as T

    def syms_split(src: str) -> str:
        return (f"list_filter(string_split({src}, chr(31)), s -> s <> '')")

    ctes = [rf"""words AS (
    SELECT tok, count(*) AS word_count
    FROM (SELECT unnest(regexp_extract_all(lower(text),
                        '{T.BPE_PRETOKEN_RE}')) AS tok
          FROM documents)
    WHERE tok NOT LIKE '%' || chr(31) || '%'
    GROUP BY tok
)""", """v0 AS (
    SELECT chr(31) || array_to_string(string_split(tok, ''),
                                      chr(31) || chr(31)) || chr(31) AS state,
           word_count
    FROM words
)"""]
    for k in range(1, BPE_K + 1):
        prev = f"v{k - 1}"
        ctes.append(f"""s{k} AS (
    SELECT {syms_split('state')} AS s, word_count FROM {prev}
),
i{k} AS (
    SELECT s, word_count, unnest(range(1, len(s))) AS i
    FROM s{k} WHERE len(s) >= 2
),
p{k} AS (
    SELECT s[i] AS a, s[i + 1] AS b,
           CAST(sum(word_count) AS BIGINT) AS pair_count
    FROM i{k} GROUP BY 1, 2
),
b{k} AS (
    SELECT a, b, pair_count FROM p{k}
    ORDER BY pair_count DESC, a ASC, b ASC LIMIT 1
),
v{k} AS (
    SELECT replace(v.state,
                   chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
                   chr(31) || bb.a || bb.b || chr(31)) AS state,
           v.word_count
    FROM {prev} v, b{k} bb
)""")
    return ctes


def _bpe_train_sql() -> str:
    """K-round unrolled oracle: vK = replace(v{{K-1}}, best-pair pattern)."""
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({k} AS INT) AS rank, a AS pair_a, b AS pair_b, "
        f"a || b AS merged, pair_count FROM b{k}"
        for k in range(1, BPE_K + 1))
    return "WITH " + ",\n".join(_bpe_shared_ctes()) + "\n" + union


def _bpe_encode_sql() -> str:
    """Encode oracle: re-derives the same K merges (CTEs b1..bK), then
    chains the K replaces over every DOCUMENT pre-token and aggregates
    per-doc counts — the unrolled-CTE mirror of bpe_encode_docs."""
    from ..functions import text as T

    ctes = _bpe_shared_ctes()
    ctes.append(rf"""e0 AS (
    SELECT doc_id, tok,
           chr(31) || array_to_string(string_split(tok, ''),
                                      chr(31) || chr(31)) || chr(31) AS state
    FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text),
                                '{T.BPE_PRETOKEN_RE}')) AS tok
          FROM documents)
    WHERE tok NOT LIKE '%' || chr(31) || '%'
)""")
    for k in range(1, BPE_K + 1):
        ctes.append(f"""e{k} AS (
    SELECT e.doc_id, e.tok,
           replace(e.state,
                   chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
                   chr(31) || bb.a || bb.b || chr(31)) AS state
    FROM e{k - 1} e, b{k} bb
)""")
    ctes.append(f"""enc AS (
    SELECT doc_id,
           count(*) AS n_pretokens,
           sum(len(tok)) AS n_chars,
           sum(len(list_filter(string_split(state, chr(31)),
                               s -> s <> ''))) AS n_bpe
    FROM e{BPE_K}
    GROUP BY doc_id
)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT d.doc_id,
       CAST(coalesce(enc.n_pretokens, 0) AS INT) AS n_pretokens,
       CAST(coalesce(enc.n_chars, 0) AS INT) AS n_chars,
       CAST(coalesce(enc.n_bpe, 0) AS INT) AS n_bpe_tokens,
       round(enc.n_chars / nullif(CAST(enc.n_bpe AS INT), 0), 4)
           AS chars_per_token
FROM documents d LEFT JOIN enc USING (doc_id)
""")


SAMPLE_K = 200


def uniform_sample_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k uniform sample, deterministic under the seed: rank all
    docs by a salted hash and keep the k smallest. Unlike
    ``df.sample(fraction)`` (approximate size, partition-dependent) this
    yields the same k rows on any cluster layout — what an eval-set
    carve-out needs.

    Scale: Spark plans global ORDER BY + LIMIT as TakeOrdered — each
    partition keeps its local top-k and only k rows per partition reach
    the driver-side merge; the corpus is never globally sorted or
    shuffled. (The returned frame re-sorts k rows for a deterministic
    output order — k rows, not the corpus.)"""
    docs = load(spark, sf_dir, "documents").select("doc_id")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample" + SEED)))
    ranked = (docs.select("doc_id", key.alias("k"))
              .orderBy("k", "doc_id").limit(SAMPLE_K))
    w = Window.orderBy("k", "doc_id")
    return ranked.select(
        "doc_id", F.row_number().over(w).cast("long").alias("sample_rank"))


_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':sample{SEED}') AS k
    FROM documents
    ORDER BY k, doc_id
    LIMIT {SAMPLE_K}
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) AS sample_rank
FROM ranked
"""


SKEW_TOP = 20


ES_K = 100


def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k WEIGHTED sampling without replacement via the
    Efraimidis–Spirakis key: each doc draws a deterministic uniform
    u ∈ (0,1) from a salted md5 and is ranked by ``ln(u)/weight``
    (monotone in u^(1/w)); the k largest keys are the sample. Inclusion
    probability ∝ weight (n_chars here: longer docs proportionally
    likelier — byte-budget sampling), and the draw is reproducible on
    any cluster layout, unlike rand()-based sampling.

    Scale: same TakeOrdered shape as ``uniform_sample_exact`` — global
    ORDER BY + LIMIT plans as per-partition heaps + a k-row driver
    merge, never a global sort. The uniform comes from the first 8 md5
    hex chars → (i+1)/(2^32+1), bit-identical in both engines; ln and
    the divide are single correctly-rounded ops on identical doubles.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    h8 = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(":es" + SEED))), 1, 8)
    u = ((F.conv(h8, 16, 10).cast("double") + 1.0)
         / F.lit(float(2 ** 32) + 1.0))
    key = F.log(u) / F.col("n_chars")
    ranked = (docs.select("doc_id", "n_chars", key.alias("es_key"))
              .orderBy(F.desc("es_key"), F.asc("doc_id")).limit(ES_K))
    w = Window.orderBy(F.desc("es_key"), F.asc("doc_id"))
    return ranked.select(
        "doc_id", "n_chars",
        F.row_number().over(w).cast("long").alias("sample_rank"))


_ES_SQL = f"""
WITH keyed AS (
    SELECT doc_id, n_chars,
           ln((CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':es{SEED}'),
                                   1, 8) AS BIGINT) + 1.0)
              / (4294967296.0 + 1.0)) / n_chars AS es_key
    FROM documents
),
ranked AS (
    SELECT doc_id, n_chars, es_key FROM keyed
    ORDER BY es_key DESC, doc_id ASC
    LIMIT {ES_K}
)
SELECT doc_id, n_chars,
       CAST(row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS BIGINT)
           AS sample_rank
FROM ranked
"""


def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew profiling of a join key: the top heavy-hitter keys
    with their row counts and share of the table. This is the query you
    run BEFORE a big fact-fact join to decide between plain hash join,
    AQE skew splitting, and explicit salting — the reference relies on
    Postgres statistics for the same decision; a Spark pipeline has to
    measure.

    Scale: map-side-combined count per key, then a global top-k over the
    aggregated per-key frame — TakeOrdered, no full sort. The totals
    branch re-aggregates the same width-1 key column (two narrow scans;
    persist per_key instead if the key table itself is huge), and joins
    back as a broadcast 1-row frame."""
    ev = load(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    total = per_key.groupBy().agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"))
    top = (per_key.orderBy(F.desc("n_rows"), F.asc("user_id"))
           .limit(SKEW_TOP))
    w = Window.orderBy(F.desc("n_rows"), F.asc("user_id"))
    return (top.crossJoin(F.broadcast(total))
            .select(
                F.row_number().over(w).cast("long").alias("rank"),
                "user_id", "n_rows",
                F.round(F.col("n_rows") / F.col("total_rows"), 6)
                 .alias("row_share"),
                (F.col("n_rows") * F.col("n_keys") / F.col("total_rows"))
                 .alias("skew_factor"),
            ))


_SKEW_SQL = f"""
WITH per_key AS (
    SELECT user_id, count(*) AS n_rows FROM events GROUP BY user_id
),
total AS (
    SELECT CAST(sum(n_rows) AS BIGINT) AS total_rows,
           count(*) AS n_keys
    FROM per_key
),
top AS (
    SELECT user_id, n_rows FROM per_key
    ORDER BY n_rows DESC, user_id ASC LIMIT {SKEW_TOP}
)
SELECT CAST(row_number() OVER (ORDER BY n_rows DESC, user_id ASC) AS BIGINT)
           AS rank,
       user_id, n_rows,
       round(n_rows / total_rows, 6) AS row_share,
       n_rows * n_keys / CAST(total_rows AS DOUBLE) AS skew_factor
FROM top CROSS JOIN total
"""


CURRICULUM_BANDS = ((0.7, "high"), (0.5, "mid"), (0.0, "low"))


def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: documents are banded by their
    classifier quality score (high → mid → low, the
    clean-data-first schedule) and deterministically shuffled WITHIN
    each band — band-major order with no quality correlation inside a
    band.

    Scale: no global sort. The order is materialized the same way as
    ``training_order_shuffle``: a (band, shard) hash layout with dense
    positions per shard, so a data loader walks bands in sequence and
    shards within a band in parallel. One shuffle (band+shard key) over
    doc ids; the scoring itself is scan-fused (see
    ``quality_classifier_score``)."""
    scored = quality_classifier_score(spark, sf_dir).select(
        "doc_id", "quality_prob")
    band = F.when(F.col("quality_prob") >= CURRICULUM_BANDS[0][0],
                  F.lit(CURRICULUM_BANDS[0][1]))
    band = band.when(F.col("quality_prob") >= CURRICULUM_BANDS[1][0],
                     F.lit(CURRICULUM_BANDS[1][1]))
    band = band.otherwise(F.lit(CURRICULUM_BANDS[2][1]))
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":cur" + SEED)))
    keyed = scored.select(
        "doc_id", band.alias("band"), key.alias("k"),
        F.substring(key, 1, N_SHARD_HEX).alias("shard"))
    pos = Window.partitionBy("band", "shard").orderBy("k", "doc_id")
    return keyed.select(
        "doc_id", "band", "shard",
        F.row_number().over(pos).cast("long").alias("position"))


def _curriculum_sql() -> str:
    hi, mid = CURRICULUM_BANDS[0], CURRICULUM_BANDS[1]
    return f"""
WITH scored AS (SELECT doc_id, quality_prob FROM ({_clf_sql()})),
keyed AS (
    SELECT doc_id,
           CASE WHEN quality_prob >= {hi[0]} THEN '{hi[1]}'
                WHEN quality_prob >= {mid[0]} THEN '{mid[1]}'
                ELSE '{CURRICULUM_BANDS[2][1]}' END AS band,
           md5(CAST(doc_id AS VARCHAR) || ':cur{SEED}') AS k
    FROM scored
)
SELECT doc_id, band,
       substr(k, 1, {N_SHARD_HEX}) AS shard,
       CAST(row_number() OVER (
            PARTITION BY band, substr(k, 1, {N_SHARD_HEX})
            ORDER BY k, doc_id) AS BIGINT) AS position
FROM keyed
"""


SAMPLE_RATE = 0.5  # target overall corpus fraction for the weighted sample


def mixture_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mixture as an actual deterministic
    sample: each source's acceptance rate is chosen so the SAMPLED
    corpus's source distribution matches ``domain_mixture_weights``
    (upweighting tail sources), and each doc's accept/reject decision
    is a pure hash comparison — the same sample on any cluster layout,
    no RNG state.

    Mechanics: per-source accept rate a_s = min(1, T·w_s / n_s) with T
    the target sample size; a doc is kept iff the first 8 hex chars of
    its salted md5 are lexicographically below a_s·2³² rendered as
    8-digit hex. Both engines compute identical md5 strings and
    identical hex thresholds, so the kept set is bit-reproducible.

    Scale: the per-source table is a handful of rows → broadcast; the
    decision is scan-fused per doc; no shuffle of the corpus at all."""
    weights = domain_mixture_weights(spark, sf_dir) \
        .select("source", "n_docs", "mix_weight")
    total = weights.groupBy().agg(
        F.floor(F.sum("n_docs") * SAMPLE_RATE).cast("long").alias("target"))
    want = F.col("target") * F.col("mix_weight") / F.col("n_docs")
    rates = (weights.crossJoin(F.broadcast(total))
             .select("source",
                     F.least(F.lit(1.0), want).alias("accept_rate"),
                     # a tail source too small to supply its target
                     # share caps at 1.0: the sample then undershoots
                     # the target size and the realized mix deviates —
                     # surfaced per row, not silently absorbed
                     (want > 1.0).alias("clipped")))
    thr_int = F.least(F.floor(F.col("accept_rate") * F.lit(2.0 ** 32)),
                      F.lit(2 ** 32 - 1)).cast("long")
    rates = rates.select(
        "source", F.round("accept_rate", 6).alias("accept_rate"), "clipped",
        F.lpad(F.lower(F.hex(thr_int)), 8, "0").alias("thr_hex"))
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = docs.withColumn(
        "h8", F.substring(F.md5(F.concat(F.col("doc_id").cast("string"),
                                         F.lit(":mix" + SEED))), 1, 8))
    return (keyed.join(F.broadcast(rates), "source")
            .where((F.col("accept_rate") >= 1.0) | (F.col("h8") < F.col("thr_hex")))
            .select("doc_id", "source", "accept_rate", "clipped"))


# oracle composes the registered mixture-weights oracle verbatim, so the
# weight formula has ONE source of truth per engine
_MIX_SAMPLE_SQL = f"""
WITH w AS ({_MIXTURE_SQL}),
weights AS (
    SELECT source, n_docs, mix_weight,
           CAST(floor(sum(n_docs) OVER () * {SAMPLE_RATE}) AS BIGINT) AS target
    FROM w
),
rates AS (
    SELECT source,
           round(least(1.0, target * mix_weight / n_docs), 6) AS accept_rate,
           (target * mix_weight / n_docs) > 1.0 AS clipped,
           lpad(lower(to_hex(CAST(least(
               floor(least(1.0, target * mix_weight / n_docs) * 4294967296.0),
               4294967295) AS BIGINT))), 8, '0') AS thr_hex
    FROM weights
)
SELECT d.doc_id, d.source, r.accept_rate, r.clipped
FROM documents d JOIN rates r USING (source)
WHERE r.accept_rate >= 1.0
   OR substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix{SEED}'), 1, 8) < r.thr_hex
"""


from ..tables import EVENT_TYPES

_EPS = 1e-6  # Laplace-ish floor so KL is defined when a type vanishes
# probability buckets: the pinned types plus a catch-all, so a NOVEL
# event type (schema rot) shows up as p_other drift instead of silently
# deflating the pinned probabilities
_DRIFT_BUCKETS = EVENT_TYPES + ("other",)


def event_drift_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift alarm between consecutive event-time windows:
    per hour, the event-type distribution (pinned types + an ``other``
    bucket for unseen types), and its KL divergence from the previous
    hour — the ingest-monitoring signal that catches a source going bad
    (schema rot → p_other rises; bot flood → one type's share spikes;
    collector outage → the hour appears with n_events=0 and every
    probability at the floor, which itself alarms).

    Shape: ONE aggregation over the corpus (hour key, map-side
    combined), then a dense hourly spine (sequence over [min, max] —
    the same gap-fill pattern as ``time_gap_fill``) left-joined so
    EMPTY hours still produce rows, then lag windows over the tiny
    hourly frame. Probabilities floor at 1e-6 and round to 6 dp before
    the log arithmetic so the KL is identical cross-engine.
    """
    ev = load(spark, sf_dir, "events")
    hourly = (ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"))
              .agg(F.count(F.lit(1)).alias("n_events"),
                   *[F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
                     .alias(f"n_{t}") for t in EVENT_TYPES]))
    spine = (hourly.groupBy()
             .agg(F.min("window_start").alias("lo"),
                  F.max("window_start").alias("hi"))
             .select(F.explode(F.sequence(
                 "lo", "hi", F.expr("interval 1 hour"))).alias("window_start")))
    dense = (spine.join(hourly, "window_start", "left")
             .select("window_start",
                     F.coalesce("n_events", F.lit(0)).alias("n_events"),
                     *[F.coalesce(f"n_{t}", F.lit(0)).alias(f"n_{t}")
                       for t in EVENT_TYPES]))
    n_other = F.col("n_events") - sum(
        [F.col(f"n_{t}") for t in EVENT_TYPES[1:]], F.col(f"n_{EVENT_TYPES[0]}"))
    probs = dense.withColumn("n_other", n_other).select(
        "window_start", F.col("n_events").cast("long").alias("n_events"),
        *[F.round(F.greatest(F.col(f"n_{t}")
                             / F.greatest(F.col("n_events"), F.lit(1)),
                             F.lit(_EPS)), 6).alias(f"p_{t}")
          for t in _DRIFT_BUCKETS])
    w = Window.orderBy("window_start")
    kl_terms = [
        F.col(f"p_{t}") * F.log(F.col(f"p_{t}")
                                / F.lag(f"p_{t}", 1).over(w))
        for t in _DRIFT_BUCKETS
    ]
    kl = F.round(sum(kl_terms[1:], kl_terms[0]), 6)
    return probs.select(
        "window_start", "n_events",
        *[f"p_{t}" for t in _DRIFT_BUCKETS],
        kl.alias("kl_vs_prev"),
    )


def _drift_sql() -> str:
    counts = ", ".join(
        f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS n_{t}"
        for t in EVENT_TYPES)
    fills = ", ".join(
        f"coalesce(n_{t}, 0) AS n_{t}" for t in EVENT_TYPES)
    n_other = "n_events - (" + " + ".join(f"n_{t}" for t in EVENT_TYPES) + ")"
    probs = ", ".join(
        f"round(greatest(n_{t} / greatest(n_events, 1), {_EPS}), 6) AS p_{t}"
        for t in _DRIFT_BUCKETS)
    kl = " + ".join(
        f"p_{t} * ln(p_{t} / lag(p_{t}, 1) OVER (ORDER BY window_start))"
        for t in _DRIFT_BUCKETS)
    return f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS window_start,
           count(*) AS n_events, {counts}
    FROM events GROUP BY 1
),
spine AS (
    SELECT unnest(generate_series(
        (SELECT min(window_start) FROM hourly),
        (SELECT max(window_start) FROM hourly),
        INTERVAL 1 HOUR)) AS window_start
),
dense AS (
    SELECT s.window_start, coalesce(h.n_events, 0) AS n_events, {fills}
    FROM spine s LEFT JOIN hourly h USING (window_start)
),
withother AS (
    SELECT *, {n_other} AS n_other FROM dense
),
probs AS (
    SELECT window_start, CAST(n_events AS BIGINT) AS n_events, {probs}
    FROM withother
)
SELECT window_start, n_events,
       {", ".join(f"p_{t}" for t in _DRIFT_BUCKETS)},
       round({kl}, 6) AS kl_vs_prev
FROM probs
"""


QUERIES = {
    "duplicate_ngram_spans": (duplicate_ngram_spans, _DUP_SPANS_SQL),
    "duplicate_span_removal": (duplicate_span_removal, _SPAN_REMOVAL_SQL),
    "corpus_datacard": (corpus_datacard, _DATACARD_SQL),
    "longest_dup_span": (longest_dup_span, _LONGEST_SPAN_SQL),
    "token_budget_plan": (token_budget_plan, _TOKEN_BUDGET_SQL),
    "weighted_sample_es": (weighted_sample_es, _ES_SQL),
    "domain_mixture_weights": (domain_mixture_weights, _MIXTURE_SQL),
    "training_order_shuffle": (training_order_shuffle, _SHUFFLE_SQL),
    "event_regression_stats": (event_regression_stats, _REGR_SQL),
    "corpus_curation_end2end": (corpus_curation_end2end, _curation_sql()),
    "vocab_merge_induction": (vocab_merge_induction, _vocab_merge_sql()),
    "bpe_train_merges": (bpe_train_merges, _bpe_train_sql()),
    "bpe_encode_docs": (bpe_encode_docs, _bpe_encode_sql()),
    "quality_classifier_score": (quality_classifier_score, _clf_sql()),
    "uniform_sample_exact": (uniform_sample_exact, _SAMPLE_SQL),
    "join_skew_diagnostics": (join_skew_diagnostics, _SKEW_SQL),
    "event_drift_monitor": (event_drift_monitor, _drift_sql()),
    "mixture_weighted_sample": (mixture_weighted_sample, _MIX_SAMPLE_SQL),
    "curriculum_order": (curriculum_order, _curriculum_sql()),
}


# --------------------------------------------------------------------------
# neyman_allocation: variance-optimal labeling-budget split per source
# --------------------------------------------------------------------------
NEYMAN_BUDGET = 1000


def neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal allocation of a labeling/audit budget across
    sources: stratum h gets budget · N_h·σ_h / Σ N·σ — the
    variance-minimizing split a data-quality team uses to spend 1000
    human labels across 20 feeds (proportional allocation overpays
    uniform strata; Neyman shifts labels to noisy ones). σ here is the
    per-source std of doc length, the available difficulty proxy.

    Determinism: counts and milli-quantized moment sums are exact
    integers; σ and the allocation share are identical float
    expressions, floored to integer labels with the remainder given
    to the largest-share strata (largest-remainder method, ties by
    source) so allocations sum EXACTLY to the budget in both engines.

    Scale: one scan → per-source moments (map-side), all allocation
    math on the |sources|-row frame.
    """
    docs = load(spark, sf_dir, "documents").select("source", "n_chars")
    stats = (docs.groupBy("source")
             .agg(F.count(F.lit(1)).alias("n_h"),
                  F.sum("n_chars").alias("s"),
                  F.sum(F.col("n_chars") * F.col("n_chars")).alias("ss")))
    sigma = F.sqrt(F.col("ss") / F.col("n_h")
                   - (F.col("s") / F.col("n_h"))
                   * (F.col("s") / F.col("n_h")))
    w = stats.select("source", "n_h", (F.col("n_h") * sigma).alias("nsig"))
    tot = w.agg(F.sum("nsig").alias("tot_nsig"))
    shares = (w.crossJoin(F.broadcast(tot))
              .select("source", "n_h",
                      (F.lit(NEYMAN_BUDGET) * F.col("nsig")
                       / F.col("tot_nsig")).alias("share")))
    base = shares.select(
        "source", "n_h", F.round("share", 4).alias("share"),
        F.floor("share").cast("long").alias("floor_alloc"),
        (F.col("share") - F.floor("share")).alias("rem"))
    short = base.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("floor_alloc")).alias("short"))
    from pyspark.sql import Window
    w_rem = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (base.crossJoin(F.broadcast(short))
            .select("source", "n_h", "share",
                    (F.col("floor_alloc")
                     + (F.row_number().over(w_rem) <= F.col("short"))
                        .cast("long")).alias("n_labels")))


_NEYMAN_SQL = f"""
WITH stats AS (
    SELECT source, count(*) AS n_h,
           CAST(sum(n_chars) AS BIGINT) AS s,
           CAST(sum(n_chars * n_chars) AS BIGINT) AS ss
    FROM documents GROUP BY source
),
w AS (
    SELECT source, n_h,
           n_h * sqrt(ss / n_h - (s / n_h) * (s / n_h)) AS nsig
    FROM stats
),
tot AS (SELECT sum(nsig) AS tot_nsig FROM w),
shares AS (
    SELECT source, n_h, {NEYMAN_BUDGET} * nsig / tot_nsig AS share
    FROM w CROSS JOIN tot
),
base AS (
    SELECT source, n_h, round(share, 4) AS share,
           CAST(floor(share) AS BIGINT) AS floor_alloc,
           share - floor(share) AS rem
    FROM shares
),
short AS (SELECT {NEYMAN_BUDGET} - CAST(sum(floor_alloc) AS BIGINT)
              AS short FROM base)
SELECT source, CAST(n_h AS BIGINT) AS n_h, share,
       floor_alloc + CAST(row_number() OVER (ORDER BY rem DESC, source ASC)
                          <= short AS BIGINT) AS n_labels
FROM base CROSS JOIN short
"""

QUERIES["neyman_allocation"] = (neyman_allocation, _NEYMAN_SQL)


# ---------------------------------------------------------------------------
# Boilerplate removal by cross-document segment frequency (CCNet-style)
# ---------------------------------------------------------------------------
BP_W = 10        # words per non-overlapping segment
BP_MIN_DOCS = 3  # a segment in >= this many distinct docs is boilerplate


def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate stripping, the CCNet/RefinedWeb line-
    frequency pass re-expressed over word segments (the corpus has no
    newlines, so the unit of repetition is a non-overlapping
    ``BP_W``-word segment — the segmentation rule is the only thing
    that changes for newline-delimited text): a segment occurring in
    ≥ ``BP_MIN_DOCS`` DISTINCT documents is navigation/header/footer
    material, removed everywhere it appears. Complements
    :func:`duplicate_span_removal` — that pass deletes any repeated
    8-gram (within- or cross-doc, overlapping); this one only deletes
    corpus-wide repetition, the signature of template text, and leaves
    a document's internal repetition alone.

    Output per doc: segment counts, removed count, and the cleaned
    text (segments rejoined in order; fully-boilerplate docs read '').

    Scale: segments shuffle on 16-byte ``unhex(md5(seg))`` (fixed
    width, never the text). Document-frequency needs per-(key, doc)
    dedup before counting — expressed as two map-side-combinable
    aggregations, not count(DISTINCT). The boilerplate key set is
    df-filtered and TINY by Zipf (template segments are few), so the
    removal join is broadcast-able; reassembly is one (doc_id) shuffle
    bounded by words/doc. At 100 TB every stage stays fixed-width and
    partial-aggregated; nothing is all-pairs.
    """
    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    segs = (docs
            .select("doc_id",
                    F.explode(F.sequence(F.lit(1), F.size("w"),
                                         F.lit(BP_W))).alias("s"),
                    "w")
            .select("doc_id", "s",
                    F.array_join(F.slice("w", F.col("s"), BP_W), " ")
                     .alias("seg_text"))
            .withColumn("k", F.unhex(F.md5("seg_text"))))
    df_per_key = (segs.select("k", "doc_id").distinct()
                  .groupBy("k").agg(F.count(F.lit(1)).alias("df")))
    bp = df_per_key.where(F.col("df") >= BP_MIN_DOCS).select("k")
    kept = segs.join(F.broadcast(bp), "k", "left_anti")
    totals = segs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"))
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(
                F.struct("s", "seg_text"))), lambda x: x["seg_text"]),
            " ").alias("clean_text"))
    return (totals.join(rebuilt, "doc_id", "left")
            .select("doc_id",
                    F.col("n_segments").cast("long").alias("n_segments"),
                    (F.col("n_segments") - F.coalesce("n_kept", F.lit(0)))
                    .cast("long").alias("n_removed"),
                    F.coalesce("clean_text", F.lit("")).alias("clean_text")))


_BP_SQL = rf"""
WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
segs AS (
    SELECT doc_id, s,
           array_to_string(w[s : s + {BP_W - 1}], ' ') AS seg_text,
           unhex(md5(array_to_string(w[s : s + {BP_W - 1}], ' '))) AS k
    FROM words, unnest(range(1, len(w) + 1, {BP_W})) AS t(s)
),
df_per_key AS (
    SELECT k, count(*) AS df
    FROM (SELECT DISTINCT k, doc_id FROM segs) GROUP BY k
),
bp AS (SELECT k FROM df_per_key WHERE df >= {BP_MIN_DOCS}),
kept AS (
    SELECT s.doc_id, s.s, s.seg_text
    FROM segs s LEFT JOIN bp ON s.k = bp.k
    WHERE bp.k IS NULL
),
totals AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segments
           FROM segs GROUP BY doc_id),
rebuilt AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
           array_to_string(list(seg_text ORDER BY s), ' ') AS clean_text
    FROM kept GROUP BY doc_id
)
SELECT t.doc_id, t.n_segments,
       t.n_segments - coalesce(r.n_kept, 0) AS n_removed,
       coalesce(r.clean_text, '') AS clean_text
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""

QUERIES["boilerplate_segment_removal"] = (boilerplate_segment_removal,
                                          _BP_SQL)


# ---------------------------------------------------------------------------
# Systematic (low-variance) resampling with replacement
# ---------------------------------------------------------------------------
RESAMPLE_M = 1000     # target sample size (number of grid points)
_RS_BUCKET = 1000     # docs per prefix-sum bucket (two-phase cumsum)


def systematic_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic resampling WITH replacement: m evenly-spaced grid
    points over the cumulative weight axis (weight = n_chars), each
    doc drawn once per grid point inside its cumulative interval —
    n_copies_i = floor(cum_i·m/W) − floor((cum_i−w_i)·m/W). The
    low-variance counterpart of ``weighted_sample_es`` (without
    replacement) and ``mixture_weighted_sample``: replicate counts are
    DETERMINISTIC given the weights (every count within ±1 of its
    expectation w_i·m/W — the property particle filters use it for),
    so an epoch plan can be audited row-for-row. Complements the
    exponential-sort sampler the way a stratified draw complements a
    Bernoulli one.

    Determinism: counts are floors of exact integer rationals,
    computed with integer division in both engines — no doubles
    anywhere. (cum·m needs int64 headroom: fine to W·m < 9.2e18, i.e.
    a ~1e13-char corpus at m=1e6; past that, promote to DECIMAL(38,0)
    — the plan shape is unchanged.)

    Scale: the cumulative sum is the textbook TWO-PHASE prefix sum —
    per-bucket partial aggregates (map-side combined), bucket offsets
    from a prefix scan over the tiny bucket table (broadcast back),
    then one bucket-local window — so no global single-partition
    window ever touches corpus-sized data; at 100 TB the bucket table
    itself would recurse one more level. The DuckDB oracle uses a
    plain global window cumsum: same semantics, which is exactly the
    point — the two-phase plan is an EXECUTION strategy, not a
    semantic change.
    """
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("long").alias("w"))
    docs = docs.withColumn("bkt", F.expr(f"doc_id div {_RS_BUCKET}"))
    w_in = Window.partitionBy("bkt").orderBy("doc_id")
    docs = docs.withColumn("cum_in", F.sum("w").over(w_in))
    btot = docs.groupBy("bkt").agg(F.sum("w").alias("bw"))
    w_b = Window.orderBy("bkt")
    offs = btot.select(
        "bkt", (F.coalesce(F.sum("bw").over(
            w_b.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
        .alias("off"))
    tot = docs.agg(F.sum("w").alias("tw"))
    cum = (docs.join(F.broadcast(offs), "bkt")
           .crossJoin(F.broadcast(tot))
           .select("doc_id", "w",
                   (F.col("off") + F.col("cum_in")).alias("cum"), "tw"))
    copies = (F.expr(f"cum * {RESAMPLE_M} div tw")
              - F.expr(f"(cum - w) * {RESAMPLE_M} div tw"))
    return (cum.select("doc_id", F.col("w").alias("weight"),
                       copies.cast("long").alias("n_copies"))
            .where(F.col("n_copies") > 0))


_RESAMPLE_SQL = f"""
WITH docs AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
),
cum AS (
    SELECT doc_id, w,
           sum(w) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
           sum(w) OVER () AS tw
    FROM docs
)
SELECT doc_id, w AS weight,
       CAST(cum * {RESAMPLE_M} // tw
            - (cum - w) * {RESAMPLE_M} // tw AS BIGINT) AS n_copies
FROM cum
WHERE cum * {RESAMPLE_M} // tw - (cum - w) * {RESAMPLE_M} // tw > 0
"""

QUERIES["systematic_resample"] = (systematic_resample, _RESAMPLE_SQL)


# ---------------------------------------------------------------------------
# Effective sample size of the length-weighted corpus, per source
# ---------------------------------------------------------------------------


def effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size of the char-count-weighted corpus,
    per source: ESS = (Σw)²/Σw² — how many EQUAL-weight documents the
    weighted collection is statistically worth. The sanity gate on any
    weighted sampling plan (``systematic_resample``,
    ``mixture_weighted_sample``): a source whose ESS ratio collapses
    is dominated by a few huge documents, and estimates stratified on
    it will be noisier than row counts suggest.

    Determinism: integer sums (w ≤ ~1e3 chars → Σw² exact far past
    1e9 docs/source), one fixed scaled division, floored identically.

    Scale: one map-side-combinable aggregation to |sources| rows.
    """
    docs = load(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("w"))
    agg = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("s"),
        F.sum(F.col("w") * F.col("w")).alias("ss"))
    ess = F.floor(F.lit(1_000_000.0)
                  * (F.col("s").cast("double") * F.col("s").cast("double"))
                  / F.col("ss").cast("double")).cast("long")
    return agg.select(
        "source", "n_docs", ess.alias("ess_e6"),
        F.floor(F.lit(1_000_000.0)
                * (F.col("s").cast("double") * F.col("s").cast("double"))
                / (F.col("ss").cast("double")
                   * F.col("n_docs").cast("double"))).cast("long")
         .alias("ess_ratio_e6"))


_ESS_SQL = """
WITH agg AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS s,
           CAST(sum(CAST(n_chars AS BIGINT) * n_chars) AS BIGINT) AS ss
    FROM documents GROUP BY source
)
SELECT source, n_docs,
       CAST(floor(1000000.0 * (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / CAST(ss AS DOUBLE)) AS BIGINT) AS ess_e6,
       CAST(floor(1000000.0 * (CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (CAST(ss AS DOUBLE) * CAST(n_docs AS DOUBLE)))
            AS BIGINT) AS ess_ratio_e6
FROM agg
"""

QUERIES["effective_sample_size"] = (effective_sample_size, _ESS_SQL)


# --------------------------------------------------------------------------
# Covariate-shift importance weights (domain adaptation reweighting)
# --------------------------------------------------------------------------
_CSW_CLIP_E6 = 10_000_000  # clip importance weights at 10x


def covariate_shift_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reweighting table that aligns each source's feature
    distribution to the global corpus — density-ratio importance
    weighting over discrete bins (lang × 200-char length bucket):
    w(source, bin) = p_corpus(bin) / p_source(bin), clipped at 10× (the
    standard variance guard). A domain-adaptation or eval-correction
    pipeline joins this table onto per-source data so source-local
    statistics estimate corpus-level ones; ``effective_sample_size``
    then prices the variance these weights cost. Output: (source,
    lang, chars_bucket, n_in_source, n_in_corpus, w_e6, w_clipped_e6).

    Determinism: w_e6 = (cnt_corpus·n_source·1e6) div
    (cnt_source·n_corpus) — exact int64 (headroom: cnt·n·1e6 needs
    cnt·n ≲ 9e12, i.e. fine to ~3e6-row bins on a 3e6-row source;
    past that divide the big factor first). The clip is an integer
    least().

    Scale: two map-side-combinable aggregations over one scan (bin
    counts per source and per corpus — the corpus counts roll up from
    the source counts, no second scan), one broadcast of the
    bin-domain-sized corpus table. Output rows ≤ |sources|·|bins|.
    """
    docs = load(spark, sf_dir, "documents").select(
        "source", "lang", F.expr("n_chars div 200").alias("chars_bucket"))
    per_src = (docs.groupBy("source", "lang", "chars_bucket")
               .agg(F.count(F.lit(1)).alias("n_in_source")))
    per_bin = (per_src.groupBy("lang", "chars_bucket")
               .agg(F.sum("n_in_source").alias("n_in_corpus")))
    n_src = (per_src.groupBy("source")
             .agg(F.sum("n_in_source").alias("n_source")))
    n_tot = F.broadcast(per_bin.agg(F.sum("n_in_corpus").alias("n_corpus")))
    return (per_src
            .join(F.broadcast(per_bin), ["lang", "chars_bucket"])
            .join(F.broadcast(n_src), "source")
            .crossJoin(n_tot)
            .withColumn("w_e6",
                        F.expr("(n_in_corpus * n_source * 1000000)"
                               " div (n_in_source * n_corpus)"))
            .select("source", "lang", "chars_bucket", "n_in_source",
                    "n_in_corpus", "w_e6",
                    F.least(F.col("w_e6"), F.lit(_CSW_CLIP_E6))
                     .alias("w_clipped_e6")))


_CSW_SQL = f"""
WITH docs AS (
    SELECT source, lang, n_chars // 200 AS chars_bucket FROM documents
),
per_src AS (
    SELECT source, lang, chars_bucket, count(*) AS n_in_source
    FROM docs GROUP BY 1, 2, 3
),
per_bin AS (
    SELECT lang, chars_bucket,
           CAST(sum(n_in_source) AS BIGINT) AS n_in_corpus
    FROM per_src GROUP BY 1, 2
),
n_src AS (
    SELECT source, CAST(sum(n_in_source) AS BIGINT) AS n_source
    FROM per_src GROUP BY 1
),
n_tot AS (SELECT CAST(sum(n_in_corpus) AS BIGINT) AS n_corpus FROM per_bin)
SELECT s.source, s.lang, s.chars_bucket, s.n_in_source, b.n_in_corpus,
       (b.n_in_corpus * ns.n_source * 1000000)
           // (s.n_in_source * t.n_corpus) AS w_e6,
       least((b.n_in_corpus * ns.n_source * 1000000)
             // (s.n_in_source * t.n_corpus), {_CSW_CLIP_E6})
           AS w_clipped_e6
FROM per_src s
JOIN per_bin b USING (lang, chars_bucket)
JOIN n_src ns USING (source)
CROSS JOIN n_tot t
"""

QUERIES["covariate_shift_weights"] = (covariate_shift_weights, _CSW_SQL)


# ---------------------------------------------------------------------------
# Greedy maximum-coverage data selection (facility-location curation)
# ---------------------------------------------------------------------------

COV_K = 5


def greedy_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Submodular data selection: pick K documents that greedily
    maximize coverage of the corpus's distinct word bigrams — the
    facility-location heuristic behind "select the most informative
    subset to label/train on", with the classic (1-1/e) guarantee.
    Output one row per pick: (rank, doc_id, gain, cum_covered,
    coverage_e6); gains are monotone nonincreasing (submodularity —
    pinned by the invariant test).

    Determinism: bigram keys are 16-byte unhex(md5(...)) (CLAUDE.md
    text-key rule); the argmax each round breaks ties on lowest
    doc_id; all counts are exact integers. If the corpus is fully
    covered before K picks both engines emit the same shorter result
    (an empty round selects nothing, in the loop and in the unrolled
    SQL alike).

    Scale: the (doc, key) incidence is built ONCE and persisted
    (released via tables.release()); each greedy round is one
    anti-join of that frame against the covered-key set (the keys of
    <=K picked docs — broadcast-sized at any corpus scale) plus a
    map-side-combinable count and a 1-row argmax collect — the
    driver-paced shape of the BPE trainer and MMR. K rounds = K tiny
    jobs, one incidence build total. (Round 8 measured two
    alternatives — threading the shrinking incidence with per-round
    persists, and as pure lineage — at 4.4 s and 6.2 s vs 3.4 s for
    this shape at sf0.1; recomputing covered from the CACHED dt wins
    at K = 5.)
    """
    # fan_out: the split+bigram explode+md5 incidence build fuses into
    # the single-row-group scan (guide §2.5 input skew; no-op at scale).
    docs = fan_out(load(spark, sf_dir, "documents"), "doc_id").select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        .alias("w"))
    idx = F.when(F.size("w") >= 2,
                 F.sequence(F.lit(1), F.size("w") - 1)) \
           .otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.concat_ws(
        " ", F.element_at(F.col("w"), i), F.element_at(F.col("w"), i + 1)))
    dt = persist(docs.select("doc_id", F.explode(grams).alias("g"))
                 .select("doc_id", F.unhex(F.md5("g")).alias("k"))
                 .distinct())
    total = dt.select("k").distinct().count()

    picks: list[int] = []
    rows: list[tuple] = []
    cum = 0
    for r in range(1, COV_K + 1):
        cand = dt
        if picks:
            # no .distinct() on the anti-join build side: left_anti is
            # existence-only, so deduping `covered` first just paid an
            # extra shuffle+aggregate per round (guide §2.4 — the r11
            # profile showed one redundant exchange per greedy round)
            covered = (dt.where(F.col("doc_id").isin(picks))
                       .select("k"))
            cand = (dt.where(~F.col("doc_id").isin(picks))
                    .join(covered, "k", "left_anti"))
        top = (cand.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))
               .orderBy(F.desc("c"), F.asc("doc_id")).limit(1).collect())
        if not top:
            break
        doc, gain = top[0]["doc_id"], top[0]["c"]
        picks.append(doc)
        cum += gain
        rows.append((r, doc, gain, cum, 1_000_000 * cum // total))
    return spark.createDataFrame(
        rows, "rank int, doc_id long, gain long, cum_covered long,"
              " coverage_e6 long")


def _coverage_sql(k_rounds: int = COV_K) -> str:
    rounds = []
    pick_names = []
    prev_cov = None
    for r in range(1, k_rounds + 1):
        not_in = ""
        if pick_names:
            union = " UNION ALL ".join(
                f"SELECT doc_id FROM {p}" for p in pick_names)
            not_in = f"WHERE doc_id NOT IN ({union})"
            not_in += f" AND k NOT IN (SELECT k FROM {prev_cov})"
        rounds.append(f"""
g{r} AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS c
    FROM dt {not_in} GROUP BY doc_id
),
p{r} AS (
    SELECT {r} AS rank, doc_id, c AS gain FROM g{r}
    ORDER BY c DESC, doc_id ASC LIMIT 1
),
c{r} AS MATERIALIZED (
    {"SELECT k FROM " + prev_cov + " UNION " if prev_cov else ""}
    SELECT DISTINCT k FROM dt
    WHERE doc_id IN (SELECT doc_id FROM p{r})
)""")
        pick_names.append(f"p{r}")
        prev_cov = f"c{r}"
    union_picks = " UNION ALL ".join(f"SELECT * FROM {p}"
                                     for p in pick_names)
    return rf"""
WITH dt AS MATERIALIZED (
    SELECT DISTINCT doc_id, md5(g) AS k
    FROM (SELECT doc_id,
                 unnest(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i + 1])) AS g
          FROM (SELECT doc_id,
                       regexp_split_to_array(trim(lower(text)), '\s+') AS w
                FROM documents))
),
tot AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS t FROM dt),
{','.join(rounds)},
picked AS ({union_picks})
SELECT CAST(rank AS INT) AS rank, doc_id, gain,
       CAST(sum(gain) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_covered,
       1000000 * CAST(sum(gain) OVER (ORDER BY rank
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) // (SELECT t FROM tot) AS coverage_e6
FROM picked
"""


QUERIES["greedy_coverage_selection"] = (greedy_coverage_selection,
                                        _coverage_sql())


# ---------------------------------------------------------------------------
# Empirical-Bayes (James-Stein) shrinkage of per-source means
# ---------------------------------------------------------------------------

def empirical_bayes_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial pooling for per-source statistics — the fix for "this
    source looks great but has 12 documents": estimate the
    between-source variance tau^2 by one-way ANOVA method of moments
    (MSB/MSW) and shrink each source's mean document length toward the
    grand mean with weight tau^2/(tau^2 + MSW/n_s). Small sources get
    pulled hard, large sources barely move — the defensible ranking a
    mixture-weight decision should consume instead of raw means.
    Output per source: (source, n_docs, raw_mean_e3, weight_e6,
    shrunk_mean_e3).

    Determinism: all moments are exact int64 sums from ONE corpus
    aggregate; MSB/MSW/tau^2/weights evaluate the same double
    expression strings in both engines (each moment < 2^53, casts
    exact); outputs are floored e-scaled integers.

    Scale: one map-side-combinable aggregate to K source rows
    (persisted — the grand/MS aggregates and the final projection both
    read it; released via tables.release()); everything after is
    K-row algebra.
    """
    d = load(spark, sf_dir, "documents").select("source", "n_chars")
    g = persist(d.groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum("n_chars").alias("sy"),
                     F.sum(F.col("n_chars") * F.col("n_chars")).alias("syy")))
    # within/between double sums go through an explicit source-sorted
    # left fold (CLAUDE.md float-reduction rule — engine-default SUM
    # order over doubles is not portable)
    tot = (g.agg(F.count(F.lit(1)).alias("k"), F.sum("n").alias("nn"),
                 F.sum("sy").alias("gsy"),
                 F.array_sort(F.collect_list(
                     F.struct("source", "n", "sy", "syy"))).alias("arr"))
           .select("k", "nn", "gsy",
                   F.expr("aggregate(transform(arr, x ->"
                          " cast(x.syy as double)"
                          " - cast(x.sy as double) * x.sy / x.n),"
                          " cast(0.0 as double), (acc, x) -> acc + x)")
                    .alias("wss"),
                   F.expr("aggregate(transform(arr, x ->"
                          " cast(x.sy as double) * x.sy / x.n),"
                          " cast(0.0 as double), (acc, x) -> acc + x)")
                    .alias("bss_part")))
    msw = "(wss / (nn - k))"
    msb = ("((bss_part - cast(gsy as double) * gsy / nn) / (k - 1))")
    tau2 = f"greatest(({msb} - {msw}) / (cast(nn as double) / k), 0.0)"
    wgt = f"({tau2} / ({tau2} + {msw} / n))"
    shrunk = (f"(cast(gsy as double) / nn"
              f" + {wgt} * (cast(sy as double) / n"
              f" - cast(gsy as double) / nn))")
    return (g.crossJoin(F.broadcast(tot)).select(
        "source", F.col("n").alias("n_docs"),
        F.expr("cast(floor(1000.0 * cast(sy as double) / n) as bigint)")
         .alias("raw_mean_e3"),
        F.expr(f"cast(floor(1000000.0 * {wgt}) as bigint)")
         .alias("weight_e6"),
        F.expr(f"cast(floor(1000.0 * {shrunk}) as bigint)")
         .alias("shrunk_mean_e3")))


def _eb_sql() -> str:
    msw = "(wss / (nn - k))"
    msb = "((bss_part - cast(gsy as double) * gsy / nn) / (k - 1))"
    tau2 = f"greatest(({msb} - {msw}) / (cast(nn as double) / k), 0.0)"
    wgt = f"({tau2} / ({tau2} + {msw} / n))"
    shrunk = (f"(cast(gsy as double) / nn"
              f" + {wgt} * (cast(sy as double) / n"
              f" - cast(gsy as double) / nn))")
    return f"""
WITH g AS MATERIALIZED (
    SELECT source, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sy,
           CAST(sum(n_chars * n_chars) AS BIGINT) AS syy
    FROM documents GROUP BY source
),
tot AS (
    SELECT k, nn, gsy,
           list_reduce(list_prepend(0.0, list_transform(arr, x ->
               cast(x.syy as double)
               - cast(x.sy as double) * x.sy / x.n)),
               (acc, x) -> acc + x) AS wss,
           list_reduce(list_prepend(0.0, list_transform(arr, x ->
               cast(x.sy as double) * x.sy / x.n)),
               (acc, x) -> acc + x) AS bss_part
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(sy) AS BIGINT) AS gsy,
               list_sort(list(struct_pack(source := source, n := n,
                                          sy := sy, syy := syy))) AS arr
        FROM g
    )
)
SELECT source, n AS n_docs,
       CAST(floor(1000.0 * cast(sy as double) / n) AS BIGINT)
           AS raw_mean_e3,
       CAST(floor(1000000.0 * {wgt}) AS BIGINT) AS weight_e6,
       CAST(floor(1000.0 * {shrunk}) AS BIGINT) AS shrunk_mean_e3
FROM g CROSS JOIN tot
"""


QUERIES["empirical_bayes_shrinkage"] = (empirical_bayes_shrinkage,
                                        _eb_sql())


# --------------------------------------------------------------------------
# filter_ablation_matrix: survivor counts for every quality-filter subset
# --------------------------------------------------------------------------

_ABL_SHORT_CHARS = 200   # f_short: doc shorter than this
_ABL_CAPS_PCT10 = 3      # f_caps: uppercase > 30% (x10 cross-multiply)
_ABL_DIGIT_PCT10 = 2     # f_digit: digits > 20%
_ABL_PUNCT_PCT10 = 2     # f_punct: punctuation > 20%


def filter_ablation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation: for EVERY subset of the four cheap
    quality filters (too-short, caps-heavy, digit-heavy, punct-heavy),
    how many documents and characters survive applying exactly that
    subset — the 2^4-row interaction table a curation team reads before
    picking a filter stack (filters overlap heavily; marginal counts
    alone double-count the overlap, which is why the full subset
    lattice matters).

    Determinism: every flag is an integer cross-multiplication on
    exact char-class counts (regexp_replace length deltas, identical
    on the ASCII corpus), never a ratio; subset membership is bit
    arithmetic on the packed flag nibble.

    Scale: ONE corpus scan reduces to the 16-cell joint flag
    distribution (map-side combinable); the 16x16 cell-to-mask
    expansion happens on that bounded frame, so the lattice costs
    nothing extra at 100 TB. This is the cube-free way to get all 16
    ablations in one pass instead of 16 filtered jobs.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text",
                                                   "n_chars")
    def _cnt(pat: str):
        return F.length("text") - F.length(F.regexp_replace("text", pat, ""))
    flagged = docs.select(
        "n_chars",
        (F.col("n_chars") < _ABL_SHORT_CHARS).cast("int").alias("f_short"),
        (_cnt("[A-Z]") * 10 > F.col("n_chars") * _ABL_CAPS_PCT10)
        .cast("int").alias("f_caps"),
        (_cnt("[0-9]") * 10 > F.col("n_chars") * _ABL_DIGIT_PCT10)
        .cast("int").alias("f_digit"),
        (_cnt(r"[^A-Za-z0-9 ]") * 10 > F.col("n_chars") * _ABL_PUNCT_PCT10)
        .cast("int").alias("f_punct"))
    cells = (flagged
             .withColumn("bits", F.expr("f_short + 2 * f_caps"
                                        " + 4 * f_digit + 8 * f_punct"))
             .groupBy("bits")
             .agg(F.count(F.lit(1)).alias("n_docs"),
                  F.sum("n_chars").alias("n_chars")))
    masks = spark.range(16).select(F.col("id").cast("int").alias("mask"))
    tot = cells.agg(F.sum("n_docs").alias("tot_docs"))
    return (masks.join(cells, F.expr("(bits & mask) = 0"))
            .groupBy("mask")
            .agg(F.sum("n_docs").alias("n_surviving"),
                 F.sum("n_chars").alias("chars_surviving"))
            .crossJoin(F.broadcast(tot))
            .select("mask",
                    F.expr("mask & 1 = 1").alias("drop_short"),
                    F.expr("mask & 2 = 2").alias("drop_caps"),
                    F.expr("mask & 4 = 4").alias("drop_digit"),
                    F.expr("mask & 8 = 8").alias("drop_punct"),
                    "n_surviving", "chars_surviving",
                    F.expr("n_surviving * 1000000 div tot_docs")
                    .alias("survival_e6")))


def _ablation_sql() -> str:
    def cnt(pat: str) -> str:
        return f"length(text) - length(regexp_replace(text, '{pat}', '', 'g'))"

    return f"""
WITH flagged AS (
  SELECT n_chars,
         CAST(n_chars < {_ABL_SHORT_CHARS} AS INT) AS f_short,
         CAST(({cnt('[A-Z]')}) * 10 > n_chars * {_ABL_CAPS_PCT10} AS INT)
             AS f_caps,
         CAST(({cnt('[0-9]')}) * 10 > n_chars * {_ABL_DIGIT_PCT10} AS INT)
             AS f_digit,
         CAST(({cnt('[^A-Za-z0-9 ]')}) * 10 > n_chars * {_ABL_PUNCT_PCT10}
              AS INT) AS f_punct
  FROM documents
),
cells AS (
  SELECT f_short + 2 * f_caps + 4 * f_digit + 8 * f_punct AS bits,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars
  FROM flagged GROUP BY 1
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs FROM cells),
masks AS (SELECT CAST(unnest(range(0, 16)) AS INT) AS mask)
SELECT m.mask,
       m.mask & 1 = 1 AS drop_short,
       m.mask & 2 = 2 AS drop_caps,
       m.mask & 4 = 4 AS drop_digit,
       m.mask & 8 = 8 AS drop_punct,
       CAST(sum(c.n_docs) AS BIGINT) AS n_surviving,
       CAST(sum(c.n_chars) AS BIGINT) AS chars_surviving,
       CAST(sum(c.n_docs) AS BIGINT) * 1000000 // t.tot_docs
           AS survival_e6
FROM masks m JOIN cells c ON (c.bits & m.mask) = 0
CROSS JOIN tot t
GROUP BY m.mask, t.tot_docs
"""


QUERIES["filter_ablation_matrix"] = (filter_ablation_matrix,
                                     _ablation_sql())


# --------------------------------------------------------------------------
# ngram_novelty_profile: first-occurrence novelty per document
# --------------------------------------------------------------------------


def ngram_novelty_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware novelty: for each document, the fraction of its
    DISTINCT word-8-grams whose first corpus occurrence (lowest doc_id)
    is this document. duplicate_ngram_spans asks "is this span repeated
    anywhere"; this asks "who contributed it first" — the signal a
    streaming/curriculum ingest uses to measure how much NEW text each
    successive document (or crawl snapshot) adds, and to spot documents
    that are pure recombinations of earlier material (novelty ≈ 0).

    Shares span_keys (the one 8-gram key definition). Determinism:
    ownership is min(doc_id) per gram — order-independent; the novelty
    ratio is an exact integer e6 floor.

    Scale: one explode, one per-(doc, gram) distinct and one gram-keyed
    min aggregate, both on the 16-byte md5 key and map-side
    combinable; the ownership join is a same-key shuffle-hash join.
    Same shape (and same ~linear-in-corpus cost) as the dup-span pass.
    """
    docs = load(spark, sf_dir, "documents")
    spans = span_keys(
        docs.select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    ).select("doc_id", "gram_key").distinct()
    owner = spans.groupBy("gram_key").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (spans.join(owner, "gram_key")
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_grams"),
                    F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                          .otherwise(0)).alias("n_novel")))
    return per_doc.select(
        "doc_id", "n_grams", F.col("n_novel").cast("long").alias("n_novel"),
        F.expr("n_novel * 1000000 div n_grams").alias("novelty_e6"))


_NOVELTY_SQL = rf"""
WITH words AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
    FROM documents
),
pos AS (
    SELECT doc_id, w,
           unnest(range(1, greatest(len(w) - {NGRAM - 1}, 0) + 1)) AS i
    FROM words
),
spans AS (
    SELECT DISTINCT doc_id,
           unhex(md5(array_to_string(w[i : i + {NGRAM - 1}], ' ')))
               AS gram_key
    FROM pos
),
owner AS (
    SELECT gram_key, min(doc_id) AS first_doc FROM spans GROUP BY gram_key
),
per_doc AS (
    SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM spans s JOIN owner o USING (gram_key)
    GROUP BY s.doc_id
)
SELECT doc_id, n_grams, n_novel,
       n_novel * 1000000 // n_grams AS novelty_e6
FROM per_doc
"""

QUERIES["ngram_novelty_profile"] = (ngram_novelty_profile, _NOVELTY_SQL)


# --------------------------------------------------------------------------
# repetition_filter_audit: Gopher-style within-document repetition metrics
# --------------------------------------------------------------------------
REP_TOP2_MAX_E6 = 180000   # fail if top 2-gram covers > 18% of tokens
REP_TTR_MIN_E6 = 300000    # fail if distinct/total tokens < 30%
REP_TOP1_MAX_E6 = 120000   # fail if one token is > 12% of the doc


def repetition_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filters (the Gopher/MassiveText
    repetition family, token flavor): per doc, the share of tokens
    covered by the single most frequent 2-gram, the type–token ratio,
    and the most frequent token's share — each an exact integer e6
    ratio — plus the three rule verdicts and the per-rule fail counts
    over the corpus. Repetitious docs are the classic LM-training
    poison this filter bank exists to drop.

    Determinism: token splits are one regex; per-doc argmax counts
    use max() on exact integers only (no tie-break needed — the SHARE
    is reported, not the winning gram); ratios are integer div.

    Scale: one scan explodes to tokens/2-grams with the doc id as the
    grouping key (map-side combinable); per-doc metrics re-aggregate
    bounded per-doc frames; the report is a 3-row rule ledger.
    """
    toks = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+")
                     .alias("w"))
            .select("doc_id", F.expr("filter(w, t -> t <> '')").alias("w")))
    flat = toks.select(
        "doc_id", F.size("w").alias("n"),
        F.explode("w").alias("tok"))
    tok_stats = (flat.groupBy("doc_id", "tok")
                 .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("c"))
                 .groupBy("doc_id")
                 .agg(F.max("n").alias("n"),
                      F.count(F.lit(1)).alias("n_distinct"),
                      F.max("c").alias("top1")))
    grams = (toks.select(
        "doc_id", F.size("w").alias("n"),
        F.expr("transform(sequence(1, size(w) - 1),"
               " i -> concat(w[i - 1], ' ', w[i]))").alias("gs"))
        .where(F.col("n") >= 2)
        .select("doc_id", "n", F.explode("gs").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.max("n").alias("n"), F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("n"), F.max("c").alias("top2")))
    per_doc = (tok_stats.join(grams.select("doc_id",
                                           F.col("top2").alias("top2")),
                              "doc_id", "left")
               .select(
                   "doc_id",
                   F.expr("(1000000 * (2 * coalesce(top2, 0))) div n")
                    .alias("top2gram_share_e6"),
                   F.expr("(1000000 * n_distinct) div n").alias("ttr_e6"),
                   F.expr("(1000000 * top1) div n").alias("top1_share_e6")))
    rules = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("top2gram_share_e6") > REP_TOP2_MAX_E6).cast("long"))
         .alias("fail_top2gram"),
        F.sum((F.col("ttr_e6") < REP_TTR_MIN_E6).cast("long"))
         .alias("fail_ttr"),
        F.sum((F.col("top1_share_e6") > REP_TOP1_MAX_E6).cast("long"))
         .alias("fail_top1"),
        F.sum(((F.col("top2gram_share_e6") <= REP_TOP2_MAX_E6)
               & (F.col("ttr_e6") >= REP_TTR_MIN_E6)
               & (F.col("top1_share_e6") <= REP_TOP1_MAX_E6))
              .cast("long")).alias("n_pass"))
    return rules


_REPETITION_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(trim(lower(text)), ' '), t -> t <> '')
             AS w
  FROM documents
),
flat AS (
  SELECT doc_id, len(w) AS n, unnest(w) AS tok FROM toks
),
tok_stats AS (
  SELECT doc_id, max(n) AS n, count(*) AS n_distinct, max(c) AS top1
  FROM (SELECT doc_id, tok, max(n) AS n, count(*) AS c
        FROM flat GROUP BY 1, 2)
  GROUP BY 1
),
grams AS (
  SELECT doc_id, max(n) AS n, max(c) AS top2
  FROM (
    SELECT doc_id, g, max(n) AS n, count(*) AS c
    FROM (
      SELECT doc_id, len(w) AS n,
             unnest(list_transform(range(2, len(w) + 1),
                    i -> w[i - 1] || ' ' || w[i])) AS g
      FROM toks WHERE len(w) >= 2
    ) GROUP BY 1, 2
  ) GROUP BY 1
),
per_doc AS (
  SELECT t.doc_id,
         (1000000 * (2 * coalesce(g.top2, 0))) // t.n
             AS top2gram_share_e6,
         (1000000 * t.n_distinct) // t.n AS ttr_e6,
         (1000000 * t.top1) // t.n AS top1_share_e6
  FROM tok_stats t LEFT JOIN grams g USING (doc_id)
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN top2gram_share_e6 > {REP_TOP2_MAX_E6}
                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_top2gram,
       CAST(sum(CASE WHEN ttr_e6 < {REP_TTR_MIN_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_ttr,
       CAST(sum(CASE WHEN top1_share_e6 > {REP_TOP1_MAX_E6}
                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_top1,
       CAST(sum(CASE WHEN top2gram_share_e6 <= {REP_TOP2_MAX_E6}
                      AND ttr_e6 >= {REP_TTR_MIN_E6}
                      AND top1_share_e6 <= {REP_TOP1_MAX_E6}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM per_doc
"""

QUERIES["repetition_filter_audit"] = (
    repetition_filter_audit, _REPETITION_SQL)


# --------------------------------------------------------------------------
# gopher_rules_audit: the MassiveText/Gopher document-quality rule bank
# --------------------------------------------------------------------------
GO_MIN_TOKENS = 50
GO_MAX_TOKENS = 100_000
GO_MEAN_LEN_MIN_E6 = 3_000_000
GO_MEAN_LEN_MAX_E6 = 10_000_000
GO_MIN_STOPWORDS = 2
GO_ALPHA_MIN_E6 = 900_000
_GO_STOPWORDS = ("the", "a", "of", "to", "and", "in")


def gopher_rules_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher/MassiveText document-quality rule bank (the subset
    that is non-degenerate on this corpus): token-count bounds, mean
    token length in [3, 10], ≥ 2 stopwords present, and ≥ 90% of
    tokens purely alphabetic. Per-rule fail counts plus the all-rules
    pass count — the exact filter ledger a pretraining pipeline
    publishes with each corpus release.

    Determinism: every metric is an exact integer (counts, Σ token
    length, e6 div ratios); no floats at all.

    Scale: one scan, one explode to tokens, ONE map-side-combinable
    per-doc aggregate, then a 1-row ledger reduce.
    """
    sw = ", ".join(f"'{w}'" for w in _GO_STOPWORDS)
    toks = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+")
                     .alias("w"))
            .select("doc_id", F.explode(
                F.expr("filter(w, t -> t <> '')")).alias("tok")))
    per_doc = (toks.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n"),
                    F.sum(F.length("tok")).alias("chars"),
                    F.sum(F.expr(f"cast(tok in ({sw}) as long)"))
                     .alias("n_stop"),
                    F.sum(F.expr("cast(tok rlike '^[a-z]+$' as long)"))
                     .alias("n_alpha"))
               .select("doc_id", "n", "n_stop",
                       F.expr("(1000000 * chars) div n").alias("mean_len_e6"),
                       F.expr("(1000000 * n_alpha) div n").alias("alpha_e6")))
    return per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(((F.col("n") < GO_MIN_TOKENS)
               | (F.col("n") > GO_MAX_TOKENS)).cast("long"))
         .alias("fail_token_count"),
        F.sum(((F.col("mean_len_e6") < GO_MEAN_LEN_MIN_E6)
               | (F.col("mean_len_e6") > GO_MEAN_LEN_MAX_E6)).cast("long"))
         .alias("fail_mean_len"),
        F.sum((F.col("n_stop") < GO_MIN_STOPWORDS).cast("long"))
         .alias("fail_stopwords"),
        F.sum((F.col("alpha_e6") < GO_ALPHA_MIN_E6).cast("long"))
         .alias("fail_alpha"),
        F.sum((F.col("n").between(GO_MIN_TOKENS, GO_MAX_TOKENS)
               & F.col("mean_len_e6").between(GO_MEAN_LEN_MIN_E6,
                                              GO_MEAN_LEN_MAX_E6)
               & (F.col("n_stop") >= GO_MIN_STOPWORDS)
               & (F.col("alpha_e6") >= GO_ALPHA_MIN_E6)).cast("long"))
         .alias("n_pass"))


def _gopher_sql() -> str:
    sw = ", ".join(f"'{w}'" for w in _GO_STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(trim(lower(text)), ' '),
                t -> t <> '')) AS tok
  FROM documents
),
per_doc AS (
  SELECT doc_id, count(*) AS n,
         sum(CASE WHEN tok IN ({sw}) THEN 1 ELSE 0 END) AS n_stop,
         (1000000 * sum(length(tok))) // count(*) AS mean_len_e6,
         (1000000 * sum(CASE WHEN regexp_matches(tok, '^[a-z]+$')
                             THEN 1 ELSE 0 END)) // count(*) AS alpha_e6
  FROM toks GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n < {GO_MIN_TOKENS} OR n > {GO_MAX_TOKENS}
                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_token_count,
       CAST(sum(CASE WHEN mean_len_e6 < {GO_MEAN_LEN_MIN_E6}
                      OR mean_len_e6 > {GO_MEAN_LEN_MAX_E6}
                     THEN 1 ELSE 0 END) AS BIGINT) AS fail_mean_len,
       CAST(sum(CASE WHEN n_stop < {GO_MIN_STOPWORDS} THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_stopwords,
       CAST(sum(CASE WHEN alpha_e6 < {GO_ALPHA_MIN_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS fail_alpha,
       CAST(sum(CASE WHEN n BETWEEN {GO_MIN_TOKENS} AND {GO_MAX_TOKENS}
                      AND mean_len_e6 BETWEEN {GO_MEAN_LEN_MIN_E6}
                                          AND {GO_MEAN_LEN_MAX_E6}
                      AND n_stop >= {GO_MIN_STOPWORDS}
                      AND alpha_e6 >= {GO_ALPHA_MIN_E6}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pass
FROM per_doc
"""


QUERIES["gopher_rules_audit"] = (gopher_rules_audit, _gopher_sql())


# --------------------------------------------------------------------------
# token_stream_packing: contiguous context-window packing per shard
# --------------------------------------------------------------------------
PACK_CAP = 2048        # context window length, tokens


def token_stream_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style pretraining packing: within each (lang, source)
    shard, documents concatenate in doc_id order into one token
    stream that is cut into ``PACK_CAP``-token context windows (docs
    MAY straddle a cut — the contiguous-stream regime, not bin
    packing; compaction_bin_packing covers the no-split regime). Per
    shard: windows needed, docs straddling a boundary, and the fill
    rate of the final ragged window — the batch-shape ledger an LLM
    data loader emits per shard.

    Every quantity is closed-form from the running token offset
    (off_start div CAP vs (off_end−1) div CAP), so the whole query is
    one partitioned cumulative window + integer arithmetic — no fold,
    no recurrence.

    Scale: one scan; the cumsum window partitions by shard; the
    report is |lang|·|source| rows (bounded alphabet).
    """
    docs = (load(spark, sf_dir, "documents")
            .select("lang", "source", "doc_id",
                    F.expr("size(filter(split(trim(lower(text)), '\\\\s+'),"
                           " t -> t <> ''))").cast("long").alias("nt"))
            .where(F.col("nt") > 0))
    w = (Window.partitionBy("lang", "source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    offs = docs.select(
        "lang", "source", "nt",
        (F.sum("nt").over(w) - F.col("nt")).alias("off_start"),
        (F.sum("nt").over(w) - 1).alias("off_last"))
    return (offs.groupBy("lang", "source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum("nt").cast("long").alias("total_tokens"),
                 F.sum((F.expr(f"off_last div {PACK_CAP}")
                        > F.expr(f"off_start div {PACK_CAP}"))
                       .cast("long")).alias("straddling_docs"))
            .select("lang", "source", "n_docs", "total_tokens",
                    F.expr(f"(total_tokens + {PACK_CAP - 1})"
                           f" div {PACK_CAP}").alias("n_windows"),
                    "straddling_docs",
                    F.expr(f"(1000000 * total_tokens) div"
                           f" (((total_tokens + {PACK_CAP - 1})"
                           f" div {PACK_CAP}) * {PACK_CAP})")
                     .alias("fill_e6")))


_PACKING_SQL = f"""
WITH docs AS (
  SELECT lang, source, doc_id,
         CAST(len(list_filter(string_split(trim(lower(text)), ' '),
              t -> t <> '')) AS BIGINT) AS nt
  FROM documents
),
offs AS (
  SELECT lang, source, nt,
         sum(nt) OVER (PARTITION BY lang, source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
             AS off_start,
         sum(nt) OVER (PARTITION BY lang, source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
             AS off_last
  FROM docs WHERE nt > 0
)
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS total_tokens,
       (CAST(sum(nt) AS BIGINT) + {PACK_CAP - 1}) // {PACK_CAP}
           AS n_windows,
       CAST(sum(CASE WHEN off_last // {PACK_CAP} > off_start // {PACK_CAP}
                     THEN 1 ELSE 0 END) AS BIGINT) AS straddling_docs,
       (1000000 * CAST(sum(nt) AS BIGINT))
           // (((CAST(sum(nt) AS BIGINT) + {PACK_CAP - 1}) // {PACK_CAP})
               * {PACK_CAP}) AS fill_e6
FROM offs
GROUP BY 1, 2
"""

QUERIES["token_stream_packing"] = (token_stream_packing, _PACKING_SQL)


# ---------------------------------------------------------------------------
# Blocked suffix ranking (round 10): longest repeated substrings at ANY
# length, not the fixed-8-gram approximation. The deduplicate-text-
# datasets shape ("Deduplicating Training Data Makes Language Models
# Better", suffix-array variant): rank every word suffix, compare each
# to its sorted neighbor, and the max LCP over adjacent pairs IS the
# longest repeated word sequence.
#
# Ranking is blocked by the suffix's prefix words, DEPTH-ADAPTIVELY:
# level L groups on the first-L-word prefix (L = 2.._SFX_MAXL). A block
# with more than _SFX_CAP suffixes is HOT: its rows escalate to level
# L+1, and hotness itself is PROOF of an L-word repeat for every member
# (>= 2 suffixes share the block's full prefix string), so escalated
# rows carry an exact grant of min(L, words) — no information is lost.
# Cold blocks sort locally (window keyed on the md5 of the prefix —
# fixed-width shuffle key); because the join separator chr(1) sorts
# below every text character, suffixes sharing an L-word prefix are
# contiguous in plain string order, and any pair with LCP >= L lives
# entirely inside one cold-or-deeper block — within-block adjacency
# equals global-suffix-array adjacency for every pair that matters at
# that level. The FINAL level sorts its hot blocks too (exactness for
# repeats longer than _SFX_MAXL), which bounds residual skew to the
# hottest (_SFX_MAXL)-word prefix; raise _SFX_MAXL at deployment to
# push that tail down. No global sort, no range partitioning, no
# unpartitioned window at any level.
# ---------------------------------------------------------------------------
_SFX_K = 24       # LCP cap in words (suffix key length shipped)
_SFX_MIN = 2      # minimum repeat length reported (blocks guarantee >=2)
_SFX_TOPK = 10    # corpus-wide report size
_SFX_SEP = "\x01"
# CAP is deliberately TINY here so every test scale factor exercises
# the escalation path (sf0.1's dense synthetic vocabulary makes 900 of
# 931 level-2 blocks hot); a production deployment sets CAP to a
# task-sized row count (~1e5) so natural text almost never escalates
# and the adaptive depth only fires on true stop-phrase prefixes.
_SFX_CAP = 64     # max COLD block size; larger blocks escalate a level
_SFX_MAXL = 5     # deepest prefix level (final level sorts hot blocks)

# word-LCP of the row's key vs its lead/lag neighbour key (columns ka,
# kb, m prepared by the level builder); array_position returns 0 on
# no-match in BOTH engines (no mismatch within the compared prefix).
# The interpreted HOF fold (CLAUDE.md: aggregate/transform lambdas are
# not codegen) is evaluated ONCE into a mismatch-position column `mp`,
# then lcp derives from mp arithmetically — evaluating the fold inside
# both the WHEN and the ELSE of one CASE doubled the per-row cost
# across every level and both neighbour directions (r10 advice).
# The nkey-NULL guard must stay on mp: m = 0 there and Spark's
# sequence(1, 0) DESCENDS to [1, 0], making element_at(ka, 0) an error.
_SFX_MP_EXPR = (
    "CASE WHEN nkey IS NULL THEN NULL"
    " ELSE array_position(transform(sequence(1, m),"
    "      j -> element_at(ka, j) = element_at(kb, j)), false) END")
_SFX_LCP_EXPR = (
    "CASE WHEN nkey IS NULL THEN NULL"
    " WHEN mp = 0 THEN m ELSE mp - 1 END")


def _suffix_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per word suffix: (doc_id, i, key) with key = the first
    _SFX_K words from position i, chr(1)-joined. Suffix count = corpus
    word count; each row is one <= ~150 B string — the O(N·K) blocked
    suffix-ranking payload, linear in corpus bytes."""
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
            .where(F.size("w") >= 2))
    return (docs.select(
        "doc_id", "w",
        F.explode(F.sequence(F.lit(1), F.size("w") - 1)).alias("i"))
        .select("doc_id", "i",
                F.concat_ws(_SFX_SEP,
                            F.slice("w", F.col("i"), F.lit(_SFX_K)))
                 .alias("key")))


def _suffix_levels(spark: SparkSession,
                   sf_dir: str) -> tuple[list, DataFrame]:
    """Depth-adaptive suffix ranking. Returns (levels, all_suffixes):
    one FINALIZED frame per level with columns
    (doc_id, i, key, ka, lcp, best), plus the level-2 cached view of
    EVERY suffix (doc_id, i, key) for occurrence passes:

    - ``lcp``  — word-LCP to the sorted successor within the row's
      cold block (NULL at block ends), for candidate extraction;
    - ``best`` — the row's exact longest-repeat length: the larger of
      its two neighbour LCPs and its hot-ancestry grant min(L-1, len).

    Each level costs ONE hash shuffle (the count/sort/lead/lag windows
    share the block-key partitioning); level-(L+1) input is only the
    hot tail of level L, so work shrinks geometrically on natural text.
    Every level's windowed frame and finalized frame PERSIST (tracked,
    released via tables.release): the chain is self-referential
    (level L+1 branches off level L) and the finalized frames feed two
    candidate branches each — unpersisted, the interpreted LCP folds
    re-pay the whole chain per branch (CLAUDE.md multi-branch rule;
    measured 5x at sf1).

    Callers go through :func:`_suffix_chain` (the session-scoped memo)
    rather than calling this directly — the three suffix queries in one
    driver pass share ONE persisted chain instead of paying the
    multi-level shuffle chain each (r11 carried item 1).
    """
    out = []
    part = _suffix_base(spark, sf_dir)
    all_sfx = None
    for lvl in range(2, _SFX_MAXL + 1):
        ka = F.split("key", _SFX_SEP)
        bl = F.unhex(F.md5(F.concat_ws(_SFX_SEP,
                                       F.slice(ka, 1, lvl))))
        cur = part.select("doc_id", "i", "key", bl.alias("bl"))
        wcnt = Window.partitionBy("bl")
        wsort = Window.partitionBy("bl").orderBy("key", "doc_id", "i")
        cur = persist(cur
                      .withColumn("n", F.count(F.lit(1)).over(wcnt))
                      .withColumn("nkey", F.lead("key").over(wsort))
                      .withColumn("pkey", F.lag("key").over(wsort)))
        if all_sfx is None:
            # level 2's windowed frame still holds EVERY suffix (the
            # hot-tail filter only applies from the next level on) —
            # expose it so the topk occurrence pass reads the cache
            # instead of re-deriving _suffix_base (scan + explode +
            # concat over the whole corpus)
            all_sfx = cur.select("doc_id", "i", "key")
        is_final = lvl == _SFX_MAXL
        fin = cur if is_final else cur.where(F.col("n") <= _SFX_CAP)
        # successor LCP directly; predecessor LCP by re-running the
        # same expression with the lagged key swapped in as "nkey"
        fin = (fin
               .withColumn("ka", F.split("key", _SFX_SEP))
               .withColumn("kb", F.split("nkey", _SFX_SEP))
               .withColumn("m", F.expr(
                   "CASE WHEN nkey IS NULL THEN 0"
                   " ELSE least(size(ka), size(kb)) END"))
               .withColumn("mp", F.expr(_SFX_MP_EXPR))
               .withColumn("lcp", F.expr(_SFX_LCP_EXPR).cast("int")))
        prev = (fin
                .withColumn("nkey", F.col("pkey"))
                .withColumn("kb", F.split("pkey", _SFX_SEP))
                .withColumn("m", F.expr(
                    "CASE WHEN nkey IS NULL THEN 0"
                    " ELSE least(size(ka), size(kb)) END"))
                .withColumn("mp", F.expr(_SFX_MP_EXPR))
                .select("doc_id", "i", "key", "ka", "lcp",
                        F.expr(_SFX_LCP_EXPR).cast("int").alias("plcp")))
        grant = (F.least(F.lit(lvl - 1), F.size("ka")) if lvl > 2
                 else F.lit(0))
        fin_frame = persist(prev.select(
            "doc_id", "i", "key", "ka", "lcp",
            F.greatest(F.coalesce("lcp", F.lit(0)),
                       F.coalesce("plcp", F.lit(0)),
                       grant).cast("int").alias("best")))
        out.append(fin_frame)
        if not is_final:
            part = (cur.where(F.col("n") > _SFX_CAP)
                    .select("doc_id", "i", "key"))
    return out, all_sfx


# Session-scoped memo of the suffix level chain, keyed by (SparkContext,
# sf_dir). The three suffix queries (lcp_repeats / repeat_topk /
# span_removal) all consume the SAME persisted chain — unmemoized, a
# driver pass running several of them rebuilt and re-persisted the
# multi-level shuffle chain per key (27.5 s + 34.2 s at sf1, r11
# VERDICT item 3). The memo holds lazy persisted DataFrames (never
# collected results); each entry is evicted by tables.release() together
# with the persists it points at, so the bench's per-key release keeps
# every benched key computing from the parquet inputs alone.
_SFX_CHAIN: dict = {}


def _suffix_chain(spark: SparkSession,
                  sf_dir: str) -> tuple[list, DataFrame]:
    """Memoized (levels, all_suffixes) pair from :func:`_suffix_levels`
    for this session + data directory."""
    import os as _os

    key = (id(spark.sparkContext), _os.path.abspath(sf_dir))
    hit = _SFX_CHAIN.get(key)
    if hit is None:
        hit = _SFX_CHAIN[key] = _suffix_levels(spark, sf_dir)
        on_release(partial(_SFX_CHAIN.pop, key, None))
    return hit


def suffix_lcp_repeats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document longest repeated word sequence at SUFFIX
    granularity (any length up to _SFX_K words, capped) — the exact
    sub-document dedup signal ``longest_dup_span`` approximates with
    fixed 8-grams: a doc whose longest repeat rivals its length is a
    wholesale copy; 8-gram methods cannot see repeats of 2-7 words and
    quantize everything else to 8-gram runs.

    A suffix's best repeat is the larger of its LCP with either sorted
    neighbor (suffix-array property) or its hot-block grant — exact at
    every level (module banner) — so per-doc max(best) over suffixes
    is exact, not approximate (property-tested against the quadratic
    definition on adversarial corpora, tests/test_suffix_properties.py).

    Scale: one depth-adaptive blocked shuffle chain (per level: one
    hash shuffle whose input is the previous level's hot tail), one
    doc-keyed aggregate, one doc-keyed join back to the corpus spine.
    """
    levels, _ = _suffix_chain(spark, sf_dir)
    per = levels[0].select("doc_id", "best")
    for frame in levels[1:]:
        per = per.unionByName(frame.select("doc_id", "best"))
    best = (per.groupBy("doc_id").agg(F.max("best").alias("mx"))
            .where(F.col("mx") >= _SFX_MIN)
            .select("doc_id",
                    F.col("mx").cast("int").alias("longest_rep_words")))
    base = load(spark, sf_dir, "documents").select("doc_id")
    return base.join(best, "doc_id", "left").select(
        "doc_id",
        F.coalesce("longest_rep_words", F.lit(0)).cast("int")
         .alias("longest_rep_words"))


def suffix_repeat_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide TOP-_SFX_TOPK longest repeated word sequences with
    occurrence counts — the dedup report the deduplicate-text-datasets
    tooling prints before span removal. Candidates come from the
    adjacent-pair prefixes of every level's cold blocks PLUS every hot
    block's prefix itself (hotness proves >= 2 occurrences — module
    banner, surfaced per row as best > lcp); a sequence's occurrence
    count is the number of suffixes it word-prefixes, counted with a
    hash join on the candidate's 2-word block (every prefixed suffix
    shares the candidate's first two words).

    Scale: the depth-adaptive suffix chain; candidate selection is
    orderBy+limit (TakeOrdered, no range partition); the occurrence
    pass joins the base suffix scan against the broadcast
    <= _SFX_TOPK-row candidate table on the 2-word block hash, then
    checks one startswith — no per-candidate array slicing and no
    nested loop over the corpus.
    """
    levels, all_sfx = _suffix_chain(spark, sf_dir)
    cands = None
    for frame in levels:
        pc = (frame.where(F.col("lcp") >= _SFX_MIN)
              .select(F.col("lcp").alias("rl"),
                      F.concat_ws(_SFX_SEP, F.slice("ka", 1, F.col("lcp")))
                       .alias("seq")))
        gc = (frame.where((F.col("best") > F.coalesce("lcp", F.lit(0)))
                          & (F.col("best") >= _SFX_MIN))
              .select(F.col("best").alias("rl"),
                      F.concat_ws(_SFX_SEP,
                                  F.slice("ka", 1, F.col("best")))
                       .alias("seq")))
        lv = pc.unionByName(gc)
        cands = lv if cands is None else cands.unionByName(lv)
    cand = (cands
            .distinct()
            .orderBy(F.desc("rl"), "seq")
            .limit(_SFX_TOPK)
            .select("rl", "seq",
                    F.unhex(F.md5(F.concat_ws(
                        _SFX_SEP,
                        F.slice(F.split("seq", _SFX_SEP), 1, 2))))
                     .alias("cb")))
    base = all_sfx.select(
        "key",
        F.unhex(F.md5(F.concat_ws(
            _SFX_SEP, F.slice(F.split("key", _SFX_SEP), 1, 2))))
         .alias("cb"))
    return (base.join(F.broadcast(cand), "cb")
            .where((F.col("key") == F.col("seq"))
                   | F.col("key").startswith(
                       F.concat(F.col("seq"), F.lit(_SFX_SEP))))
            .groupBy("rl", "seq")
            .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
            .select(F.translate("seq", _SFX_SEP, " ")
                     .alias("repeat_words"),
                    F.col("rl").cast("int").alias("rep_len_words"),
                    "n_occurrences"))


def _sfx_pairlcp_sql(other: str) -> str:
    """Word-LCP of key vs the OTHER key column (DuckDB list_position
    returns 0 on no-match — 0/NULL both mean LCP = compared length)."""
    m = (f"least(len(string_split(key, chr(1))),"
         f" len(string_split({other}, chr(1))))")
    pos = (f"list_position(list_transform(range(1, {m} + 1),"
           f" j -> string_split(key, chr(1))[j]"
           f" = string_split({other}, chr(1))[j]), false)")
    return (f"CASE WHEN {other} IS NULL THEN NULL"
            f" WHEN coalesce({pos}, 0) = 0 THEN CAST({m} AS INT)"
            f" ELSE CAST({pos} - 1 AS INT) END")


def _sfx_levels_sql() -> str:
    """Oracle twin of :func:`_suffix_levels`: per-level CTE chain, hot
    blocks escalate, final level sorts everything. Level block key is
    the prefix STRING (the md5 in the Spark plan is only a fixed-width
    shuffle key — identical grouping)."""
    parts = [rf"""
docs AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents
),
sfx AS (
  SELECT doc_id, t.i,
         array_to_string(list_slice(w, t.i, t.i + {_SFX_K - 1}), chr(1))
             AS key
  FROM docs, unnest(range(1, len(w))) AS t(i)
  WHERE len(w) >= 2
),
part2 AS (SELECT doc_id, i, key FROM sfx)"""]
    for lvl in range(2, _SFX_MAXL + 1):
        is_final = lvl == _SFX_MAXL
        cold = "" if is_final else f"WHERE n <= {_SFX_CAP}"
        grant = (f"least({lvl - 1}, len(string_split(key, chr(1))))"
                 if lvl > 2 else "0")
        parts.append(f"""
blk{lvl} AS (
  SELECT doc_id, i, key,
         array_to_string(list_slice(string_split(key, chr(1)), 1, {lvl}),
                         chr(1)) AS bl
  FROM part{lvl}
),
win{lvl} AS MATERIALIZED (
  SELECT doc_id, i, key, bl,
         count(*) OVER (PARTITION BY bl) AS n,
         lead(key) OVER (PARTITION BY bl
                         ORDER BY key, doc_id, i) AS nkey,
         lag(key)  OVER (PARTITION BY bl
                         ORDER BY key, doc_id, i) AS pkey
  FROM blk{lvl}
),
lcp{lvl} AS (
  SELECT doc_id, i, key,
         string_split(key, chr(1)) AS ka,
         {_sfx_pairlcp_sql('nkey')} AS lcp,
         {_sfx_pairlcp_sql('pkey')} AS plcp
  FROM win{lvl} {cold}
),
fin{lvl} AS MATERIALIZED (
  SELECT doc_id, i, key, ka, lcp,
         CAST(greatest(coalesce(lcp, 0), coalesce(plcp, 0), {grant})
              AS INT) AS best
  FROM lcp{lvl}
)""")
        if not is_final:
            parts.append(f"""
part{lvl + 1} AS (
  SELECT doc_id, i, key FROM win{lvl} WHERE n > {_SFX_CAP}
)""")
    union = " UNION ALL ".join(
        f"SELECT doc_id, i, key, ka, lcp, best FROM fin{lvl}"
        for lvl in range(2, _SFX_MAXL + 1))
    parts.append(f"""
finalized AS ({union})""")
    return ",".join(parts)


_SFX_LCP_SQL = f"""
WITH {_sfx_levels_sql()},
best AS (
  SELECT doc_id, max(best) AS mx FROM finalized GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(CASE WHEN b.mx >= {_SFX_MIN} THEN b.mx END, 0) AS INT)
           AS longest_rep_words
FROM documents d LEFT JOIN best b USING (doc_id)
"""


_SFX_TOPK_SQL = f"""
WITH {_sfx_levels_sql()},
cands AS (
  SELECT CAST(lcp AS INT) AS rl,
         array_to_string(list_slice(ka, 1, lcp), chr(1)) AS seq
  FROM finalized WHERE lcp >= {_SFX_MIN}
  UNION ALL
  SELECT best AS rl,
         array_to_string(list_slice(ka, 1, best), chr(1)) AS seq
  FROM finalized WHERE best > coalesce(lcp, 0) AND best >= {_SFX_MIN}
),
cand AS (
  SELECT DISTINCT rl, seq FROM cands
  ORDER BY rl DESC, seq LIMIT {_SFX_TOPK}
),
cand_b AS (
  SELECT rl, seq,
         array_to_string(list_slice(string_split(seq, chr(1)), 1, 2),
                         chr(1)) AS cb
  FROM cand
),
base_b AS (
  SELECT key,
         array_to_string(list_slice(string_split(key, chr(1)), 1, 2),
                         chr(1)) AS cb
  FROM sfx
)
SELECT replace(c.seq, chr(1), ' ') AS repeat_words,
       c.rl AS rep_len_words,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM base_b s JOIN cand_b c USING (cb)
WHERE s.key = c.seq OR starts_with(s.key, c.seq || chr(1))
GROUP BY 1, 2
"""


QUERIES["suffix_lcp_repeats"] = (suffix_lcp_repeats, _SFX_LCP_SQL)
QUERIES["suffix_repeat_topk"] = (suffix_repeat_topk, _SFX_TOPK_SQL)


# Removal threshold: any word covered by a repeated sequence of at
# least this many words is deleted. The deduplicate-text-datasets tool
# uses 50 BPE tokens at web scale; 4 words keeps every test SF busy
# (same deployment-knob status as _SFX_CAP). Must stay <= _SFX_K: the
# detector's per-suffix `best` is capped at the shipped key length, so
# a threshold beyond the cap would silently detect nothing.
_SFX_RM_T = 4


def suffix_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANY-length duplicate-span REMOVAL driven by the suffix chain —
    the removal pass of "Deduplicating Training Data Makes Language
    Models Better" at suffix granularity. :func:`duplicate_span_removal`
    deletes words covered by duplicated FIXED 8-grams (cannot see 4-7
    word repeats and quantizes longer ones to 8-gram runs); this
    deletes every word covered by a repeated sequence of >= _SFX_RM_T
    words of ANY length, using the depth-adaptive ranker's exact
    per-suffix `best`. Every copy of a repeat is removed (the
    symmetric variant of the tool; keeping one canonical copy needs a
    global occurrence tie-break and is a policy layer on top).

    A suffix (doc_id, i) with best >= T proves the words [i, i+best-1]
    appear elsewhere in the corpus, so the removal set is the union of
    those intervals; coverage is evaluated per word against the doc's
    interval list (bounded by words/doc), and `n_spans_removed` counts
    the MERGED disjoint runs via covered(j) AND NOT covered(j-1).

    Scale: the suffix-chain shuffles (hot-tail geometric shrink, no
    global sort) + one doc-keyed interval aggregate + one doc-keyed
    join back to the corpus spine. The per-word exists() is
    O(words x intervals) with both factors document-local — a
    production variant pre-merges intervals per doc for
    O(words + intervals), same note as duplicate_span_removal.
    """
    levels, _ = _suffix_chain(spark, sf_dir)
    per = levels[0].select("doc_id", "i", "best")
    for frame in levels[1:]:
        per = per.unionByName(frame.select("doc_id", "i", "best"))
    ivals = (per.where(F.col("best") >= _SFX_RM_T)
             .groupBy("doc_id")
             .agg(F.collect_list(
                 F.struct(F.col("i").cast("int").alias("st"),
                          (F.col("i") + F.col("best") - 1).cast("int")
                          .alias("en"))).alias("ivals")))
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", F.split(F.trim("text"), r"\s+").alias("w")))
    joined = (docs.join(ivals, "doc_id", "left")
              .withColumn("ivals", F.coalesce(
                  "ivals",
                  F.array().cast("array<struct<st:int,en:int>>")))
              .withColumn("cov", F.transform(
                  F.sequence(F.lit(1), F.size("w")),
                  lambda j: F.exists(
                      "ivals",
                      lambda v: (v["st"] <= j) & (j <= v["en"])))))
    # j = 1 has no predecessor: greatest(j-1, 1) keeps element_at off
    # index 0 (an error in Spark) — the j = 1 disjunct dominates, and
    # the oracle uses the identical guard so both engines agree
    runs = F.size(F.filter(
        F.sequence(F.lit(1), F.size("w")),
        lambda j: F.element_at(F.col("cov"), j)
        & ((j == 1) | ~F.element_at(F.col("cov"),
                                    F.greatest(j - 1, F.lit(1))))))
    return joined.select(
        "doc_id",
        F.size("w").cast("int").alias("n_words"),
        F.size(F.filter("cov", lambda c: c)).cast("int")
         .alias("n_removed"),
        runs.cast("int").alias("n_spans_removed"),
        F.array_join(
            F.filter("w", lambda t, j: ~F.element_at(
                F.col("cov"), j + F.lit(1))), " ").alias("clean_text"))


_SFX_RM_SQL = rf"""
WITH {_sfx_levels_sql()},
ivals AS (
  SELECT doc_id,
         list(struct_pack(st := i, en := i + best - 1)) AS ivals
  FROM finalized WHERE best >= {_SFX_RM_T}
  GROUP BY doc_id
),
joined AS (
  SELECT d.doc_id,
         regexp_split_to_array(trim(d.text), '\s+') AS w,
         v.ivals AS ivals
  FROM documents d LEFT JOIN ivals v USING (doc_id)
),
covd AS (
  SELECT doc_id, w,
         list_transform(range(1, len(w) + 1), j ->
             CASE WHEN ivals IS NULL THEN false
                  ELSE len(list_filter(ivals,
                           v -> v.st <= j AND j <= v.en)) > 0 END) AS cov
  FROM joined
)
SELECT doc_id,
       CAST(len(w) AS INT) AS n_words,
       CAST(len(list_filter(cov, x -> x)) AS INT) AS n_removed,
       CAST(len(list_filter(range(1, len(w) + 1),
            j -> cov[j] AND (j = 1 OR NOT cov[greatest(j - 1, 1)])))
           AS INT) AS n_spans_removed,
       coalesce(array_to_string(
           list_filter(w, (t, j) -> NOT cov[j]), ' '), '') AS clean_text
FROM covd
"""

QUERIES["suffix_span_removal"] = (suffix_span_removal, _SFX_RM_SQL)


# ---------------------------------------------------------------------------
# shuffle_autocorrelation_audit (round 10)
# ---------------------------------------------------------------------------

def shuffle_autocorrelation_audit(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """QA gate on ``training_order_shuffle``: within each training
    shard, how often are ADJACENT documents from the same source,
    against the exact expectation under a uniform random permutation
    (E[same] = Σ_s n_s(n_s−1) / n per shard)? A seeded md5 shuffle
    should land ratio ≈ 1; a broken shuffle (sorted input leaking
    through, key collisions, source-correlated keys) shows up as
    ratio ≫ 1 — the curriculum-contamination check a data loader runs
    before training.

    Determinism/exactness: adjacency counts and the expectation are
    exact integers (e6 floors only at the final two divisions); the
    within-shard order is the shuffle's own unique (key, doc_id) order.

    Scale: inherits ``training_order_shuffle``'s shape — one hash
    exchange on shard + within-shard sort; the audit adds a lag, one
    (shard, source) aggregate and one shard aggregate. At 100 TB raise
    the shard digit count with the shuffle itself so per-shard sorts
    stay task-sized (same note as the shuffle).
    """
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    order = training_order_shuffle(spark, sf_dir).join(src, "doc_id")
    w = Window.partitionBy("shard").orderBy("position")
    adj = (order
           .withColumn("prev_src", F.lag("source").over(w))
           .groupBy("shard")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(F.when(F.col("prev_src") == F.col("source"), 1)
                      .otherwise(0)).cast("long").alias("same_pairs")))
    per_src = (order.groupBy("shard", "source")
               .agg(F.count(F.lit(1)).alias("ns"))
               .groupBy("shard")
               .agg(F.sum(F.col("ns") * (F.col("ns") - 1)).alias("ss")))
    return (adj.join(per_src, "shard")
            .select("shard", "n_docs", "same_pairs",
                    F.expr("(1000000 * ss) div n_docs")
                     .alias("expected_same_e6"),
                    F.expr("CASE WHEN ss = 0 THEN -1"
                           " ELSE (1000000 * same_pairs * n_docs) div ss"
                           " END").alias("ratio_e6"))
            )


_SHUF_AUDIT_SQL = f"""
WITH keyed AS (
    SELECT d.doc_id, d.source,
           md5(CAST(d.doc_id AS VARCHAR) || ':{SEED}') AS shuffle_key
    FROM documents d
),
ordered AS (
    SELECT doc_id, source,
           substr(shuffle_key, 1, {N_SHARD_HEX}) AS shard,
           row_number() OVER (
               PARTITION BY substr(shuffle_key, 1, {N_SHARD_HEX})
               ORDER BY shuffle_key, doc_id) AS position
    FROM keyed
),
adj AS (
    SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN prev_src = source THEN 1 ELSE 0 END)
                AS BIGINT) AS same_pairs
    FROM (SELECT shard, source,
                 lag(source) OVER (PARTITION BY shard
                                   ORDER BY position) AS prev_src
          FROM ordered)
    GROUP BY shard
),
per_src AS (
    SELECT shard, CAST(sum(ns * (ns - 1)) AS BIGINT) AS ss
    FROM (SELECT shard, source, CAST(count(*) AS BIGINT) AS ns
          FROM ordered GROUP BY 1, 2)
    GROUP BY shard
)
SELECT a.shard, a.n_docs, a.same_pairs,
       (1000000 * p.ss) // a.n_docs AS expected_same_e6,
       CASE WHEN p.ss = 0 THEN -1
            ELSE (1000000 * a.same_pairs * a.n_docs) // p.ss END
           AS ratio_e6
FROM adj a JOIN per_src p USING (shard)
"""

QUERIES["shuffle_autocorrelation_audit"] = (shuffle_autocorrelation_audit,
                                            _SHUF_AUDIT_SQL)


# ---------------------------------------------------------------------------
# doremi_mixture_reweight (round 11): DoReMi-shaped domain reweighting
# ---------------------------------------------------------------------------
# Multiplicative-weights (Hedge) over source domains with base 2 (the
# learning rate is eta = ln 2, so every update is an exact integer
# power of two): w_d(t) = 2^(payoff_d * t) / sum_e 2^(payoff_e * t).
# The payoff is the domain's excess-loss RANK bucketed to 0..7 — the
# DoReMi worst-case-excess ordering with a bounded exponent so the
# whole trajectory stays in int64 (max exponent 7 * _DMW_ROUNDS = 35).
_DMW_ROUNDS = 5        # hedge steps; rows emitted for t = 0.._DMW_ROUNDS
_DMW_PAYOFF_BUCKETS = 8  # payoff in 0..7 (rank-bucketed excess loss)


def doremi_mixture_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-shaped training-mixture reweighting (the LEARNED
    counterpart of the static size-temperature rule in
    :func:`domain_mixture_weights`): per source domain, the
    multiplicative-weights (Hedge, base 2) sampling-weight
    trajectory over ``_DMW_ROUNDS`` steps, where a domain's payoff is
    its excess-loss rank (loss proxy: chars-per-word — a longer-word
    domain is "harder" for a fixed tokenizer) bucketed to
    0..{buckets-1}. Emits, per (domain, step): the payoff, the
    normalized mixture weight (e6) and the token allocation a sampler
    drawing a corpus-sized budget under that weight would give the
    domain — the report a data-mixing run produces before locking
    pre-training sampling rates (Xie et al. 2023, "DoReMi").

    Determinism: weights are exact integer powers of two over an exact
    integer rank; the only divisions are two floored integer divs.
    Rank ties break on the source string.

    Scale: ONE documents scan reduced map-side to |domains| rows;
    everything after (rank window, step explode, per-step window sum)
    runs on a <= |domains| * (rounds+1) frame — single-task size even
    at 100 TB, where |domains| is thousands at most. The scan is the
    whole cost; the shuffle is |domains| rows. int64 headroom: the
    final allocation multiply needs corpus_words < 9.2e12; past that,
    emit the allocation in e3 instead of multiplying by the e6 weight.
    """
    dom = (load(spark, sf_dir, "documents")
           .select("source", F.trim("text").alias("t"))
           .groupBy("source")
           .agg(F.sum(F.length("t")).cast("long").alias("chars"),
                F.sum(F.size(F.split(F.col("t"), r"\s+"))).cast("long")
                 .alias("words"))
           .select("source", "chars", "words",
                   F.expr("(10000 * chars) div greatest(words, 1)")
                    .alias("cpw_e4")))
    ranked = dom.withColumn(
        "rn", F.row_number().over(
            Window.orderBy(F.col("cpw_e4").desc(), F.col("source"))))
    tot = ranked.agg(F.count(F.lit(1)).cast("long").alias("n_domains"),
                     F.sum("words").cast("long").alias("corpus_words"))
    steps = (ranked.crossJoin(F.broadcast(tot))
             .withColumn("payoff",
                         F.expr(f"((n_domains - rn) * "
                                f"{_DMW_PAYOFF_BUCKETS}) div n_domains"))
             .select("source", "cpw_e4", "payoff", "corpus_words",
                     F.explode(F.sequence(
                         F.lit(0), F.lit(_DMW_ROUNDS))).alias("t"))
             .withColumn("wnum",
                         F.expr("shiftleft(CAST(1 AS BIGINT),"
                                " CAST(payoff * t AS INT))")))
    tw = Window.partitionBy("t")
    return (steps.withColumn("denom", F.sum("wnum").over(tw))
            .withColumn("weight_e6", F.expr("(1000000 * wnum) div denom"))
            .select("source", F.col("t").cast("long").alias("t"),
                    F.col("payoff").cast("long").alias("payoff"),
                    "cpw_e4", "weight_e6",
                    F.expr("(corpus_words * weight_e6) div 1000000")
                     .alias("tok_alloc")))


_DMW_SQL = rf"""
WITH dom AS (
    SELECT source,
           CAST(sum(len(trim(text))) AS BIGINT) AS chars,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS words
    FROM documents GROUP BY source
),
cpw AS (
    SELECT source, chars, words,
           (10000 * chars) // greatest(words, 1) AS cpw_e4
    FROM dom
),
ranked AS (
    SELECT source, words, cpw_e4,
           CAST(row_number() OVER (ORDER BY cpw_e4 DESC, source)
                AS BIGINT) AS rn
    FROM cpw
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_domains,
           CAST(sum(words) AS BIGINT) AS corpus_words
    FROM ranked
),
steps AS (
    SELECT r.source, r.cpw_e4,
           ((t.n_domains - r.rn) * {_DMW_PAYOFF_BUCKETS})
               // t.n_domains AS payoff,
           t.corpus_words, s.t
    FROM ranked r, tot t, range(0, {_DMW_ROUNDS} + 1) s(t)
),
w AS (
    SELECT source, t, payoff, cpw_e4, corpus_words,
           (CAST(1 AS BIGINT) << CAST(payoff * t AS INT)) AS wnum
    FROM steps
),
n AS (
    SELECT source, CAST(t AS BIGINT) AS t,
           CAST(payoff AS BIGINT) AS payoff, cpw_e4, corpus_words,
           (1000000 * wnum)
               // CAST(sum(wnum) OVER (PARTITION BY t) AS BIGINT)
               AS weight_e6
    FROM w
)
SELECT source, t, payoff, cpw_e4, weight_e6,
       (corpus_words * weight_e6) // 1000000 AS tok_alloc
FROM n
"""

QUERIES["doremi_mixture_reweight"] = (doremi_mixture_reweight, _DMW_SQL)


# ---------------------------------------------------------------------------
# data_epoch_allocation (round 11): data-constrained epoch budgeting
# ---------------------------------------------------------------------------
# Muennighoff et al. 2023 ("Scaling Data-Constrained Language Models"):
# repeating a domain's unique tokens for epoch e contributes a decayed
# marginal value r^(e-1) * U with r < 1. With the rational decay
# r = 3/5 every marginal gain is the exact integer
# (10^4 * U * 3^(e-1)) div 5^(e-1), so the greedy allocation — take
# (domain, epoch) cells in descending marginal value until the raw
# token budget is spent — is bit-identical across engines.
_DEA_MAX_EPOCHS = 6
_DEA_BUDGET_MULT = 2   # raw-token budget = 2x the unique corpus
# 3^(e-1) / 5^(e-1) as exact integer literals (e = 1.._DEA_MAX_EPOCHS)
# — never CAST(pow(...)), whose double->int cast truncates on Spark
# but rounds on DuckDB.
_DEA_POW3 = ", ".join(f"CAST({3 ** i} AS BIGINT)"
                      for i in range(_DEA_MAX_EPOCHS))
_DEA_POW5 = ", ".join(f"CAST({5 ** i} AS BIGINT)"
                      for i in range(_DEA_MAX_EPOCHS))


def data_epoch_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training budget: given a raw-token budget of
    ``_DEA_BUDGET_MULT``x the unique corpus, how many EPOCHS of each
    source domain should the loader schedule when repeated data decays
    in value by r = 3/5 per epoch? Greedy on exact-integer marginal
    gains (optimal here — gains are non-increasing within a domain, so
    the greedy prefix is the fractional-knapsack solution restricted
    to whole epochs taken in order). Emits per domain: unique words,
    epochs taken, raw tokens consumed, effective tokens gained (e4)
    and the average value per raw token (e4) — the "is a 4th epoch of
    Wikipedia worth it" table.

    Determinism: every gain is a floored integer rational; the greedy
    order (gain DESC, source, epoch) is a total order; the cumulative
    cost uses an explicit ROWS frame.

    Scale: ONE documents scan reduced map-side to |domains| rows; the
    epoch grid is |domains| * {epochs} rows and the greedy cumsum is
    one single-partition window over that tiny frame (thousands of
    rows at most — domains, not documents). int64 headroom: gains
    multiply U by 10^4 * 3^5; U < 3.8e12 holds to ~30 T words per
    domain, past that drop the e4 scale on the gain column.
    """
    dom = (load(spark, sf_dir, "documents")
           .groupBy("source")
           .agg(F.sum(F.size(F.split(F.trim("text"), r"\s+")))
                 .cast("long").alias("u")))
    tot = dom.agg(F.sum("u").cast("long").alias("corpus_words"))
    cells = (dom.crossJoin(F.broadcast(tot))
             .select("source", "u", "corpus_words",
                     F.explode(F.sequence(
                         F.lit(1), F.lit(_DEA_MAX_EPOCHS))).alias("e"))
             .withColumn("gain_e4",
                         F.expr(f"(10000 * u * element_at(array("
                                f"{_DEA_POW3}), e)) div element_at("
                                f"array({_DEA_POW5}), e)")))
    gw = (Window.orderBy(F.col("gain_e4").desc(), "source", "e")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    taken = (cells.withColumn("cum_cost", F.sum("u").over(gw))
             .withColumn("kept",
                         (F.col("cum_cost")
                          <= _DEA_BUDGET_MULT * F.col("corpus_words"))
                         .cast("long")))
    return (taken.groupBy("source")
            .agg(F.max("u").alias("unique_words"),
                 F.sum("kept").cast("long").alias("epochs_taken"),
                 F.sum(F.col("kept") * F.col("u")).cast("long")
                  .alias("raw_tokens_used"),
                 F.sum(F.col("kept") * F.col("gain_e4")).cast("long")
                  .alias("effective_tokens_e4"))
            .withColumn("avg_value_e4",
                        F.expr("effective_tokens_e4"
                               " div greatest(raw_tokens_used, 1)")))


_DEA_SQL = rf"""
WITH dom AS (
    SELECT source,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS u
    FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(u) AS BIGINT) AS corpus_words FROM dom),
cells AS (
    SELECT d.source, d.u, t.corpus_words, s.e,
           (10000 * d.u * ([{_DEA_POW3}])[s.e])
               // ([{_DEA_POW5}])[s.e] AS gain_e4
    FROM dom d, tot t, range(1, {_DEA_MAX_EPOCHS} + 1) s(e)
),
taken AS (
    SELECT source, u, gain_e4,
           CASE WHEN sum(u) OVER (ORDER BY gain_e4 DESC, source, e
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW)
                     <= {_DEA_BUDGET_MULT} * corpus_words
                THEN 1 ELSE 0 END AS kept
    FROM cells
)
SELECT source,
       CAST(max(u) AS BIGINT) AS unique_words,
       CAST(sum(kept) AS BIGINT) AS epochs_taken,
       CAST(sum(kept * u) AS BIGINT) AS raw_tokens_used,
       CAST(sum(kept * gain_e4) AS BIGINT) AS effective_tokens_e4,
       CAST(sum(kept * gain_e4) AS BIGINT)
           // greatest(CAST(sum(kept * u) AS BIGINT), 1)
           AS avg_value_e4
FROM taken
GROUP BY source
"""

QUERIES["data_epoch_allocation"] = (data_epoch_allocation, _DEA_SQL)
