"""Statistical language-model operators over the documents corpus.

The model-based half of a curation stack (the counting/heuristic half
lives in ``functions/text*.py`` and ``plans/corpus_queries.py``):

- ``ngram_lm_perplexity`` — train a bigram LM on the corpus and score
  every document's smoothed cross-entropy / perplexity. This is the
  CCNet-style quality signal: documents whose word sequences are
  improbable under a corpus-level n-gram model are gibberish or
  boilerplate, and a curation pipeline buckets or drops them by this
  score.
- ``bpe_encode_docs`` — apply a trained BPE merge list (the K-round
  trainer in ``plans/corpus_queries.bpe_train_merges``) to every
  document and report token counts before/after: the "tokenize the
  corpus with the learned vocabulary" pass that sizes a training run.
- Objective/masking planners: ``t5_span_corruption``,
  ``mlm_masking_plan``, ``fim_transform``.
- Vocabulary analytics: ``vocab_ablation_curve``,
  ``vocab_coverage_at_k``, and (round 10) ``nucleus_cutoff_profile`` —
  the top-p cutoff table per context-frequency bucket under the
  corpus bigram model.

All are pure Column-expression plans (whole-stage codegen, no UDFs)
with DuckDB oracles; scale notes on each query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens
from ..tables import fan_out, load, persist

# Laplace add-one smoothing over the observed vocabulary: an unseen
# continuation of word a scores 1 / (c(a) + V). Constant chosen over
# interpolation because it is exactly reproducible in integer-ratio
# space (both engines compute (cb+1)/(cu+V) as a single BIGINT/BIGINT
# double division — bit-identical inputs to ln()).


def ngram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy under a corpus-trained LM.

    Train: unigram counts c(a), bigram counts c(a,b), vocabulary size V
    — two map-side-combined aggregations over one corpus scan. Score:
    for each adjacent pair (a,b) in a document,
    ``lp = ln((c(a,b) + 1) / (c(a) + V))`` (add-one smoothing), and the
    document's cross-entropy is ``-avg(lp)`` in nats; perplexity is its
    exp.

    Scale: the model tables are Heaps'-law bounded (vocab ~ sqrt of
    corpus tokens; bigram types grow sublinearly too) — far smaller
    than the corpus — and the score join runs on fixed-width
    ``unhex(md5(..))`` keys (16 bytes) rather than word strings, so the
    Zipf head ("the") hashes to the same few bytes instead of shipping
    text; AQE handles the residual key skew with skew-join splitting.
    The unigram denominator is folded INTO the bigram model at build
    time (a vocab-sized join — each bigram key functionally determines
    its first word), so the corpus-sized probe is ONE join against one
    model table, not two. Nothing collects to the driver; V rides a
    broadcast one-row frame.

    Float determinism: the per-pair ln() inputs are integer-ratio
    doubles (bit-identical cross-engine); the per-doc sum is
    order-sensitive only below ~1e-12 relative, 8 decimal digits under
    the round(·, 4) contract.
    """
    # fan_out: the tokenize + explode + double-md5 passes below are the
    # per-row-heavy work, and a single-file scan would run them in one
    # task (guide §2.5; no-op on many-split inputs)
    docs = fan_out(load(spark, sf_dir, "documents"), "doc_id") \
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("w"))

    # persisted: uni feeds the model's denominator join AND the
    # vocabulary-size aggregate — unpersisted, the corpus token explode
    # + hash + count ran once per branch (released via
    # tables.release)
    uni = persist(docs.select(F.explode("w").alias("tok"))
                  .groupBy(F.unhex(F.md5("tok")).alias("uk"))
                  .agg(F.count(F.lit(1)).alias("uc")))
    vstats = uni.agg(F.count(F.lit(1)).alias("v_size"))

    idx = F.when(F.size("w") >= 2, F.sequence(F.lit(1), F.size("w") - 1)) \
           .otherwise(F.array().cast("array<int>"))
    # persisted: pairs is both the model-training input (groupBy bk,uk)
    # and the corpus-sized probe side of the score join — unpersisted,
    # the bigram explode + two md5 hashes per pair ran twice (the two
    # consumers hash-partition on different keys, so ReuseExchange
    # cannot dedup them)
    pairs = persist(
        docs
        .select("doc_id", F.explode(F.transform(idx, lambda i: F.struct(
            F.element_at(F.col("w"), i).alias("a"),
            F.element_at(F.col("w"), i + 1).alias("b")))).alias("p"))
        .select("doc_id",
                F.unhex(F.md5("p.a")).alias("uk"),
                F.unhex(F.md5(F.concat_ws("\x1f", "p.a", "p.b")))
                 .alias("bk")))
    # model build: bigram counts, then the vocab-sized denominator join
    # (uk is functionally dependent on bk, so it rides the groupBy key)
    model = (pairs.groupBy("bk", "uk")
             .agg(F.count(F.lit(1)).alias("bc"))
             .join(uni, "uk")
             .select("bk", "bc", "uc"))

    scored = (pairs.drop("uk")
              .join(model, "bk")
              .crossJoin(F.broadcast(vstats))
              .select("doc_id",
                      F.log((F.col("bc") + 1) / (F.col("uc") + F.col("v_size")))
                       .alias("lp")))
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp").alias("slp"))
    base = load(spark, sf_dir, "documents").select("doc_id")
    ce = -F.col("slp") / F.col("n_bigrams")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
        F.round(ce, 4).alias("cross_entropy"),
        F.round(F.exp(ce), 4).alias("perplexity"))


_LM_SQL = r"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS w
    FROM documents
),
uni AS (
    SELECT tok, count(*) AS uc
    FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
),
vocab AS (SELECT count(*) AS v_size FROM uni),
pos AS (
    SELECT doc_id, w, unnest(range(1, greatest(len(w) - 1, 0) + 1)) AS i
    FROM toks
),
pairs AS (SELECT doc_id, w[i] AS a, w[i + 1] AS b FROM pos),
big AS (SELECT a, b, count(*) AS bc FROM pairs GROUP BY a, b),
scored AS (
    SELECT p.doc_id, ln((bg.bc + 1) / (u.uc + v.v_size)) AS lp
    FROM pairs p
    JOIN uni u ON p.a = u.tok
    JOIN big bg ON p.a = bg.a AND p.b = bg.b
    CROSS JOIN vocab v
),
per_doc AS (
    SELECT doc_id, count(*) AS n_bigrams, sum(lp) AS slp
    FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(-p.slp / p.n_bigrams, 4) AS cross_entropy,
       round(exp(-p.slp / p.n_bigrams), 4) AS perplexity
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


ZIPF_TOP = 100


def token_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary rank-frequency diagnostics: the log-log OLS fit of
    the top-``ZIPF_TOP`` term frequencies against their ranks. Natural
    corpora sit near slope −1 (Zipf's law); a corpus whose slope is far
    off is template spam (too flat: every doc the same words) or noise
    (too steep: no shared vocabulary) — a one-row corpus health gate a
    curation run can assert on.

    Scale: term counts are one map-side-combined aggregation; the
    top-K is orderBy+limit (TakeOrdered — per-partition heaps, no
    global sort), and ranking + regression run on the K-row result
    (single tiny partition by construction). The corpus never shuffles
    more than (term, count) pairs.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
          .where(F.col("t") != "")
          .groupBy("t").agg(F.count(F.lit(1)).alias("cnt")))
    top = tf.orderBy(F.desc("cnt"), F.asc("t")).limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("cnt"), F.asc("t"))
    pts = top.select(F.log(F.row_number().over(w).cast("double")).alias("x"),
                     F.log(F.col("cnt").cast("double")).alias("y"))
    agg = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("y") * F.col("y")).alias("syy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    slope = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    r_num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    r_den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                   * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return agg.select(
        F.col("n").cast("int").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4)
         .alias("intercept"),
        F.round((r_num / r_den) * (r_num / r_den), 4).alias("r2"))


_ZIPF_SQL = rf"""
WITH tf AS (
    SELECT t, count(*) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
          FROM documents)
    WHERE t <> '' GROUP BY t
),
top AS (SELECT t, cnt FROM tf ORDER BY cnt DESC, t ASC LIMIT {ZIPF_TOP}),
pts AS (
    SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, t ASC) AS DOUBLE))
               AS x,
           ln(CAST(cnt AS DOUBLE)) AS y
    FROM top
),
agg AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
    FROM pts
)
SELECT CAST(n AS INT) AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
           AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
FROM agg
"""


N_DECILES = 10


def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law diagnostic: vocabulary size as a function of corpus
    size, V(N) ≈ K·N^β — the curve that predicts how big a tokenizer
    vocabulary must grow with the corpus, and whose β (naturally ~0.5)
    flags template corpora (β→0: no new words) or noise (β→1: every
    token new). Reported at corpus deciles plus the log-log OLS β.

    Scale: ONE corpus pass — each token's FIRST-occurrence doc
    (min doc_id per token, map-side combined) gives the entire growth
    curve: V(prefix ≤ d) = count of tokens first seen by d, computed
    as a running sum over the per-doc new-token counts. The running
    windows order by doc_id over #docs rows of ints (single partition
    — bounded by document count, not tokens; at extreme doc counts,
    run the two-level prefix scan of media_shard_assignment). Decile
    cuts use percent_rank over the same spine.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents") \
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("w"))
    toks = docs.select("doc_id", F.explode("w").alias("tok")) \
        .where(F.col("tok") != "")
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    new_per_doc = first.groupBy(F.col("first_doc").alias("doc_id")) \
        .agg(F.count(F.lit(1)).alias("n_new"))
    tokens_per_doc = toks.groupBy("doc_id") \
        .agg(F.count(F.lit(1)).alias("n_toks"))
    spine = (tokens_per_doc.join(new_per_doc, "doc_id", "left")
             .select("doc_id", "n_toks",
                     F.coalesce("n_new", F.lit(0)).alias("n_new")))
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    curve = spine.select(
        "doc_id",
        F.sum("n_toks").over(w).alias("cum_tokens"),
        F.sum("n_new").over(w).alias("cum_vocab"),
        F.ceil(F.percent_rank().over(Window.orderBy("doc_id"))
               * N_DECILES).cast("int").alias("decile"))
    per_decile = (curve.groupBy("decile")
                  .agg(F.max("cum_tokens").cast("long").alias("cum_tokens"),
                       F.max("cum_vocab").cast("long").alias("cum_vocab")))
    pts = per_decile.where(F.col("decile") > 0).select(
        F.log(F.col("cum_tokens").cast("double")).alias("x"),
        F.log(F.col("cum_vocab").cast("double")).alias("y"))
    agg = pts.agg(F.count(F.lit(1)).cast("double").alias("n"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    beta = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
    return (per_decile.where(F.col("decile") > 0)
            .crossJoin(F.broadcast(agg.select(
                F.round(beta, 4).alias("heaps_beta"))))
            .select("decile", "cum_tokens", "cum_vocab", "heaps_beta"))


_VOCAB_GROWTH_SQL = rf"""
WITH toks AS (
    SELECT doc_id, tok
    FROM (SELECT doc_id,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                     AS tok
          FROM documents)
    WHERE tok <> ''
),
first AS (SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok),
new_per_doc AS (
    SELECT first_doc AS doc_id, count(*) AS n_new FROM first
    GROUP BY first_doc
),
tokens_per_doc AS (
    SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
),
spine AS (
    SELECT t.doc_id, t.n_toks, coalesce(n.n_new, 0) AS n_new
    FROM tokens_per_doc t LEFT JOIN new_per_doc n USING (doc_id)
),
curve AS (
    SELECT doc_id,
           sum(n_toks) OVER w AS cum_tokens,
           sum(n_new) OVER w AS cum_vocab,
           CAST(ceil(percent_rank() OVER (ORDER BY doc_id)
                     * {N_DECILES}) AS INT) AS decile
    FROM spine
    WINDOW w AS (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
),
per_decile AS (
    SELECT decile,
           CAST(max(cum_tokens) AS BIGINT) AS cum_tokens,
           CAST(max(cum_vocab) AS BIGINT) AS cum_vocab
    FROM curve GROUP BY decile
),
pts AS (
    SELECT ln(CAST(cum_tokens AS DOUBLE)) AS x,
           ln(CAST(cum_vocab AS DOUBLE)) AS y
    FROM per_decile WHERE decile > 0
),
fit AS (
    SELECT round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 4)
               AS heaps_beta
    FROM pts
)
SELECT p.decile, p.cum_tokens, p.cum_vocab, f.heaps_beta
FROM per_decile p CROSS JOIN fit f
WHERE p.decile > 0
"""


NEG_TOP = 200


def negative_sampling_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The word2vec/SGNS negative-sampling distribution: unigram
    frequency raised to 3/4, normalized, with the cumulative
    distribution a sampler binary-searches. The 3/4 power is computed
    WITHOUT transcendentals — cnt^0.75 = sqrt(sqrt(cnt^3)) and sqrt is
    IEEE correctly-rounded (ln/pow are not; the walk-PMI hazard class)
    — then floored to e3 integers so the normalization and cumsum are
    exact int64 window arithmetic. Output per kept token: (token, cnt,
    w_e3, prob_e6, cum_e6), ordered-deterministic via (cnt DESC,
    token ASC).

    Scale: term counts are one map-side-combined aggregate; the
    top-{NEG_TOP} cut is TakeOrdered (per-partition heaps, no global
    sort); weights/cumsum run on the K-row result. cnt^3 stays exact
    in double to cnt < 2^17.6 ~ 2e5; beyond that both engines still
    compute the identical (1-ulp-rounded) double, so parity holds —
    only the mathematical exactness of the 3/4 power degrades.
    """
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    tf = (docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("t"))
          .where(F.col("t") != "")
          .groupBy("t").agg(F.count(F.lit(1)).alias("cnt")))
    top = (tf.orderBy(F.desc("cnt"), F.asc("t")).limit(NEG_TOP)
           .withColumn("w_e3", F.expr(
               "cast(floor(sqrt(sqrt(cast(cnt as double) * cnt * cnt))"
               " * 1000) as bigint)")))
    tot = top.agg(F.sum("w_e3").alias("tot"))
    w = Window.orderBy(F.desc("cnt"), F.asc("t")) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (top.withColumn("cw", F.sum("w_e3").over(w))
            .crossJoin(F.broadcast(tot))
            .select(F.col("t").alias("token"), "cnt", "w_e3",
                    F.expr("1000000 * w_e3 div tot").alias("prob_e6"),
                    F.expr("1000000 * cw div tot").alias("cum_e6")))


_NEG_SAMPLING_SQL = rf"""
WITH tf AS (
    SELECT t, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
          FROM documents)
    WHERE t <> '' GROUP BY t
),
top AS (
    SELECT t, cnt,
           CAST(floor(sqrt(sqrt(CAST(cnt AS DOUBLE) * cnt * cnt))
                * 1000) AS BIGINT) AS w_e3
    FROM tf ORDER BY cnt DESC, t ASC LIMIT {NEG_TOP}
),
cum AS (
    SELECT t, cnt, w_e3,
           CAST(sum(w_e3) OVER (ORDER BY cnt DESC, t ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cw,
           CAST((SELECT sum(w_e3) FROM top) AS BIGINT) AS tot
    FROM top
)
SELECT t AS token, cnt, w_e3,
       1000000 * w_e3 // tot AS prob_e6,
       1000000 * cw // tot AS cum_e6
FROM cum
"""


def unigram_lm_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style lattice segmentation: score every distinct
    corpus word by its minimal-cost subword segmentation under a
    frequency-thresholded piece vocabulary — the Viterbi-over-lattice
    kernel of unigram-LM tokenizers (the BPE trainer's sibling; BPE
    composes merges bottom-up, unigram-LM picks the best path through
    all candidate pieces at once).

    Model: candidate pieces are all substrings of length 1–3 of
    corpus words, weighted by word frequency; the vocabulary keeps
    pieces with weight ≥ total_tokens div 500 (derived threshold —
    never a constant, so it tracks corpus growth). Piece costs are
    exact ints favoring long pieces (len 3 → 7, len 2 → 8, len 1 → 9;
    len-1 pieces are always usable so every word segments). The DP
    best[i] = min_l best[i−l] + cost(w[i−l+1..i]) runs as a left fold
    whose accumulator is the growing best[] ARRAY — a single
    list-typed value, self-read only, so it sidesteps DuckDB's
    struct-field aliasing entirely (CLAUDE.md viterbi note).

    Determinism: all integer; vocabulary membership is exact; fold
    order is the position order.

    Scale: distinct words and the piece vocabulary are both tiny
    relative to the corpus (vocab is bounded by 3·500 pieces BY
    CONSTRUCTION of the threshold — Σ weights ≤ 3·total); the only
    corpus-scale work is the two token counts. Grid joins broadcast
    the vocab; the fold runs per distinct word.
    """
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(tokens(F.lower(F.col("text"))))
                        .alias("w"))
            .where(F.col("w") != ""))
    words = toks.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    total = words.agg(F.sum("f").alias("t"))
    pieces = (words.select(
        "f", F.explode(F.expr(
            "flatten(transform(sequence(1, length(w)), i ->"
            " transform(sequence(1, least(3, length(w) - i + 1)),"
            "           l -> substring(w, i, l))))")).alias("p"))
        .groupBy("p").agg(F.sum("f").alias("pf")))
    vocab = (pieces.crossJoin(F.broadcast(total))
             .where(F.col("pf") >= F.expr("t div 500"))
             .select("p"))
    grid = (words.select("w", "f", F.explode(
        F.expr("sequence(1, length(w))")).alias("i"))
        .withColumn("p2", F.expr(
            "CASE WHEN i >= 2 THEN substring(w, i - 1, 2) END"))
        .withColumn("p3", F.expr(
            "CASE WHEN i >= 3 THEN substring(w, i - 2, 3) END"))
        .join(F.broadcast(vocab.select(F.col("p").alias("p2"),
                                       F.lit(1).alias("in2"))),
              "p2", "left")
        .join(F.broadcast(vocab.select(F.col("p").alias("p3"),
                                       F.lit(1).alias("in3"))),
              "p3", "left")
        .select("w", "f", "i",
                F.lit(9).cast("long").alias("c1"),
                F.expr("CAST(CASE WHEN in2 = 1 THEN 8"
                       " ELSE 1000000 END AS BIGINT)").alias("c2"),
                F.expr("CAST(CASE WHEN in3 = 1 THEN 7"
                       " ELSE 1000000 END AS BIGINT)").alias("c3")))
    fold = ("aggregate("
            " array_sort(xs),"
            " array(cast(0 as bigint)),"
            " (acc, x) -> concat(acc, array(least("
            "   element_at(acc, x.i) + x.c1,"
            "   IF(x.i >= 2, element_at(acc, x.i - 1) + x.c2,"
            "      cast(2000000 as bigint)),"
            "   IF(x.i >= 3, element_at(acc, x.i - 2) + x.c3,"
            "      cast(2000000 as bigint))))))")
    return (grid.groupBy("w", "f")
            .agg(F.collect_list(F.struct("i", "c1", "c2", "c3"))
                 .alias("xs"))
            .select(F.col("w").alias("word"), F.col("f").alias("freq"),
                    F.length("w").alias("wlen"),
                    F.expr(f"element_at({fold}, length(w) + 1)")
                    .alias("best_cost"))
            .withColumn("saved_e6", F.expr(
                "1000000 * (9 * wlen - best_cost) div (9 * wlen)")))


_UNIGRAM_SEG_SQL = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f
  FROM toks WHERE w <> '' GROUP BY w
),
total AS (SELECT CAST(sum(f) AS BIGINT) AS t FROM words),
pieces AS (
  SELECT p, CAST(sum(f) AS BIGINT) AS pf
  FROM (
    SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
               list_transform(range(1, least(3, len(w) - i + 1) + 1),
                              l -> substr(w, CAST(i AS INT),
                                          CAST(l AS INT)))))) AS p
    FROM words)
  GROUP BY p
),
vocab AS (
  SELECT p FROM pieces, total WHERE pf >= t // 500
),
grid AS (
  SELECT w, f, CAST(i AS INT) AS i,
         CAST(9 AS BIGINT) AS c1,
         CAST(CASE WHEN i >= 2 AND v2.p IS NOT NULL THEN 8
              ELSE 1000000 END AS BIGINT) AS c2,
         CAST(CASE WHEN i >= 3 AND v3.p IS NOT NULL THEN 7
              ELSE 1000000 END AS BIGINT) AS c3
  FROM (SELECT w, f, unnest(range(1, len(w) + 1)) AS i FROM words) g
  LEFT JOIN vocab v2
    ON i >= 2 AND v2.p = substr(g.w, CAST(i - 1 AS INT), 2)
  LEFT JOIN vocab v3
    ON i >= 3 AND v3.p = substr(g.w, CAST(i - 2 AS INT), 3)
),
folded AS (
  SELECT w AS word, f AS freq, CAST(len(w) AS INT) AS wlen,
         list_reduce(
           list_prepend([CAST(0 AS BIGINT)],
             list_transform(
               list_sort(list(struct_pack(i := i, c1 := c1,
                                          c2 := c2, c3 := c3))),
               x -> [CAST(x.i AS BIGINT), x.c1, x.c2, x.c3])),
           (acc, x) -> list_append(acc, least(
             acc[x[1]] + x[2],
             CASE WHEN x[1] >= 2 THEN acc[x[1] - 1] + x[3]
                  ELSE CAST(2000000 AS BIGINT) END,
             CASE WHEN x[1] >= 3 THEN acc[x[1] - 2] + x[4]
                  ELSE CAST(2000000 AS BIGINT) END))) AS best
  FROM grid GROUP BY w, f
)
SELECT word, freq, wlen,
       best[wlen + 1] AS best_cost,
       1000000 * (9 * wlen - best[wlen + 1]) // (9 * wlen) AS saved_e6
FROM folded
"""


QUERIES = {
    "ngram_lm_perplexity": (ngram_lm_perplexity, _LM_SQL),
    "unigram_lm_segment": (unigram_lm_segment, _UNIGRAM_SEG_SQL),
    "token_zipf_fit": (token_zipf_fit, _ZIPF_SQL),
    "vocab_growth_curve": (vocab_growth_curve, _VOCAB_GROWTH_SQL),
    "negative_sampling_table": (negative_sampling_table,
                                _NEG_SAMPLING_SQL),
}


# --------------------------------------------------------------------------
# t5_span_corruption: denoising-objective example construction
# --------------------------------------------------------------------------

_T5_MASK_PCT = 15


def t5_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5/UL2-style span corruption: mask ~15% of each document's
    tokens (hash-seeded, so the same doc always corrupts the same
    way), merge adjacent masked positions into spans, and emit the
    (masked_input, targets) pair a denoising pretrain consumes —
    masked_input keeps the visible tokens with one <Xk> sentinel per
    span, targets is the sentinel-delimited recovery sequence. The
    objective-construction pass that turns a curated corpus into
    encoder-decoder training examples inside the engine.

    Determinism: the mask decision is md5(doc_id:pos) % 100 < 15
    (identical text both engines); span ids come from the classic
    position-minus-rank island trick; both output strings assemble
    from position-ordered aggregation (string_agg ORDER BY /
    array_sort-then-join).

    Scale: one explode to token positions, two doc-keyed windows, one
    doc-keyed reassembly aggregate — linear, nothing crosses
    documents. 100 TB: identical shape to doc_chunking.
    """
    from pyspark.sql import Window
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "w"))
        .where(F.col("w") != ""))
    masked = toks.withColumn("m", F.expr(
        f"CAST(conv(substr(md5(concat(cast(doc_id as string), ':',"
        f" cast(pos as string))), 1, 4), 16, 10) AS INT)"
        f" % 100 < {_T5_MASK_PCT}"))
    wm = Window.partitionBy("doc_id").orderBy("pos")
    spans = (masked
             .withColumn("mrank", F.sum(F.col("m").cast("int")).over(wm))
             .withColumn("grp", F.when(F.col("m"),
                                       F.col("pos") - F.col("mrank"))))
    # span index k (0-based) per doc = dense rank of grp among masked
    wk = Window.partitionBy("doc_id").orderBy("grp")
    sp = (spans.where("m")
          .select("doc_id", "grp")
          .distinct()
          .withColumn("k", F.row_number().over(wk) - 1))
    lab = (spans.join(sp, ["doc_id", "grp"], "left")
           .withColumn("first_of_span", F.expr(
               "m AND (lag(m) OVER (PARTITION BY doc_id ORDER BY pos)"
               " IS NULL OR NOT lag(m) OVER (PARTITION BY doc_id"
               " ORDER BY pos))")))
    inp = (lab.where("NOT m OR first_of_span")
           .groupBy("doc_id")
           .agg(F.array_join(F.expr(
               "transform(array_sort(collect_list(struct(pos,"
               " CASE WHEN m THEN concat('<X', cast(k as string), '>')"
               " ELSE w END AS t))), x -> x.t)"), " ")
               .alias("masked_input")))
    tgt = (lab.where("m")
           .groupBy("doc_id")
           .agg(F.array_join(F.expr(
               "transform(array_sort(collect_list(struct(pos,"
               " CASE WHEN first_of_span THEN"
               "   concat('<X', cast(k as string), '> ', w)"
               " ELSE w END AS t))), x -> x.t)"), " ")
               .alias("targets"),
               F.count(F.lit(1)).alias("n_masked"),
               F.countDistinct("k").alias("n_spans")))
    base = masked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"))
    return (base.join(inp, "doc_id", "left").join(tgt, "doc_id", "left")
            .select("doc_id", "n_tokens",
                    F.coalesce("n_masked", F.lit(0)).alias("n_masked"),
                    F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
                    F.coalesce("masked_input", F.lit("")).alias(
                        "masked_input"),
                    F.coalesce("targets", F.lit("")).alias("targets")))


_T5_SQL = rf"""
WITH toks AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS w
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS t(i)
  WHERE ws[i] <> ''
),
masked AS (
  SELECT doc_id, pos, w,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                                 || CAST(pos AS VARCHAR)), 1, 4)
              AS INT) % 100 < {_T5_MASK_PCT} AS m
  FROM toks
),
spans AS (
  SELECT doc_id, pos, w, m,
         CASE WHEN m THEN pos - sum(CASE WHEN m THEN 1 ELSE 0 END)
                             OVER (PARTITION BY doc_id ORDER BY pos)
         END AS grp
  FROM masked
),
sp AS (
  SELECT doc_id, grp,
         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY grp)
              - 1 AS INT) AS k
  FROM (SELECT DISTINCT doc_id, grp FROM spans WHERE m)
),
lab AS (
  SELECT s.doc_id, s.pos, s.w, s.m, p.k,
         s.m AND (lag(s.m) OVER (PARTITION BY s.doc_id ORDER BY s.pos)
                  IS NULL
                  OR NOT lag(s.m) OVER (PARTITION BY s.doc_id
                                        ORDER BY s.pos))
             AS first_of_span
  FROM spans s LEFT JOIN sp p ON s.doc_id = p.doc_id AND s.grp = p.grp
),
inp AS (
  SELECT doc_id,
         string_agg(CASE WHEN m THEN '<X' || CAST(k AS VARCHAR) || '>'
                         ELSE w END, ' ' ORDER BY pos) AS masked_input
  FROM lab WHERE NOT m OR first_of_span GROUP BY doc_id
),
tgt AS (
  SELECT doc_id,
         string_agg(CASE WHEN first_of_span
                         THEN '<X' || CAST(k AS VARCHAR) || '> ' || w
                         ELSE w END, ' ' ORDER BY pos) AS targets,
         CAST(count(*) AS BIGINT) AS n_masked,
         CAST(count(DISTINCT k) AS BIGINT) AS n_spans
  FROM lab WHERE m GROUP BY doc_id
),
base AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM masked GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       coalesce(t.n_masked, 0) AS n_masked,
       coalesce(t.n_spans, 0) AS n_spans,
       coalesce(i.masked_input, '') AS masked_input,
       coalesce(t.targets, '') AS targets
FROM base b
LEFT JOIN inp i ON b.doc_id = i.doc_id
LEFT JOIN tgt t ON b.doc_id = t.doc_id
"""


QUERIES["t5_span_corruption"] = (t5_span_corruption, _T5_SQL)


# --------------------------------------------------------------------------
# mlm_masking_plan: BERT-style 80/10/10 masked-LM example construction
# --------------------------------------------------------------------------

_MLM_SEL_PCT = 150   # of 1000: ~15% of tokens selected
_MLM_VOCAB_K = 100   # replacement pool = top-K corpus tokens


def mlm_masking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BERT-style MLM corruption: ~15% of tokens are selected
    (hash-seeded); of those, 80% become [MASK], 10% are replaced by a
    hash-chosen token from the top-{k} corpus vocabulary, 10% stay
    unchanged (the trick that keeps the encoder honest about
    unmasked positions). Emits the corrupted text plus the per-doc
    op census — the encoder-side sibling of t5_span_corruption.

    Determinism: selection and op both derive from md5(doc:pos)
    buckets; the replacement pool is a TakeOrdered top-{k} by
    (count DESC, token ASC) with the row_number index joined on
    hash-mod — everything integer/md5.

    Scale: one explode, one broadcast join against the K-row pool
    (only for the ~1.5% random-replacement positions), one doc-keyed
    reassembly. The pool is top-K BY CONSTRUCTION — bounded at any
    corpus size, unlike the full vocabulary.
    """.format(k=_MLM_VOCAB_K)
    from pyspark.sql import Window
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(
        "doc_id",
        F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "w"))
        .where(F.col("w") != ""))
    vocab = (toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
             .orderBy(F.desc("c"), "w").limit(_MLM_VOCAB_K)
             .withColumn("vidx", F.row_number().over(
                 Window.orderBy(F.desc("c"), "w")) - 1)
             .select("vidx", F.col("w").alias("repl")))
    h = (f"CAST(conv(substr(md5(concat(cast(doc_id as string), ':',"
         f" cast(pos as string), ':SEL')), 1, 6), 16, 10) AS INT)")
    op = (f"CAST(conv(substr(md5(concat(cast(doc_id as string), ':',"
          f" cast(pos as string), ':OP')), 1, 6), 16, 10) AS INT)")
    nv = vocab.agg(F.count(F.lit(1)).alias("nv"))
    lab = (toks.crossJoin(F.broadcast(nv))
           .withColumn("sel", F.expr(f"{h} % 1000 < {_MLM_SEL_PCT}"))
           .withColumn("op", F.expr(
               f"CASE WHEN NOT ({h} % 1000 < {_MLM_SEL_PCT}) THEN 'keep'"
               f" WHEN {op} % 10 < 8 THEN 'mask'"
               f" WHEN {op} % 10 = 8 THEN 'random'"
               f" ELSE 'same' END"))
           # mod by the ACTUAL pool size: a corpus with fewer than K
           # distinct tokens would otherwise hash to missing indices
           # and silently drop the token from the reassembly
           .withColumn("vidx", F.expr(
               f"CASE WHEN {op} % 10 = 8 AND {h} % 1000 < {_MLM_SEL_PCT}"
               f" THEN {op} div 10 % nv END")))
    out_tok = (lab.join(F.broadcast(vocab), "vidx", "left")
               .withColumn("t", F.expr(
                   "CASE op WHEN 'mask' THEN '[MASK]'"
                   " WHEN 'random' THEN repl ELSE w END")))
    return (out_tok.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum((F.col("op") == "mask").cast("long"))
                 .alias("n_mask"),
                 F.sum((F.col("op") == "random").cast("long"))
                 .alias("n_random"),
                 F.sum((F.col("op") == "same").cast("long"))
                 .alias("n_same"),
                 F.array_join(F.expr(
                     "transform(array_sort(collect_list(struct(pos, t))),"
                     " x -> x.t)"), " ").alias("corrupted_text")))


def _mlm_sql() -> str:
    h = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'"
         " || CAST(pos AS VARCHAR) || ':SEL'), 1, 6) AS INT)")
    op = ("CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'"
          " || CAST(pos AS VARCHAR) || ':OP'), 1, 6) AS INT)")
    return rf"""
WITH toks AS (
  SELECT doc_id, CAST(i - 1 AS INT) AS pos, ws[i] AS w
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS ws
        FROM documents),
       unnest(range(1, len(ws) + 1)) AS t(i)
  WHERE ws[i] <> ''
),
vocab AS (
  SELECT CAST(row_number() OVER (ORDER BY c DESC, w) - 1 AS INT) AS vidx,
         w AS repl
  FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY w
        ORDER BY c DESC, w LIMIT {_MLM_VOCAB_K})
),
vs AS (SELECT CAST(count(*) AS INT) AS nv FROM vocab),
lab AS (
  SELECT doc_id, pos, w,
         CASE WHEN NOT ({h} % 1000 < {_MLM_SEL_PCT}) THEN 'keep'
              WHEN {op} % 10 < 8 THEN 'mask'
              WHEN {op} % 10 = 8 THEN 'random'
              ELSE 'same' END AS op,
         CASE WHEN {op} % 10 = 8 AND {h} % 1000 < {_MLM_SEL_PCT}
              THEN {op} // 10 % nv END AS vidx
  FROM toks, vs
),
out_tok AS (
  SELECT l.doc_id, l.pos,
         CASE l.op WHEN 'mask' THEN '[MASK]'
                   WHEN 'random' THEN v.repl ELSE l.w END AS t,
         l.op
  FROM lab l LEFT JOIN vocab v ON l.vidx = v.vidx
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN op = 'mask' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_mask,
       CAST(sum(CASE WHEN op = 'random' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_random,
       CAST(sum(CASE WHEN op = 'same' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_same,
       string_agg(t, ' ' ORDER BY pos) AS corrupted_text
FROM out_tok GROUP BY doc_id
"""


QUERIES["mlm_masking_plan"] = (mlm_masking_plan, _mlm_sql())


# --------------------------------------------------------------------------
# fim_transform: fill-in-middle (PSM) example construction
# --------------------------------------------------------------------------

def fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-middle transform (code-model pretraining): split each
    document's token sequence at two hash-derived cut points and emit
    the PSM reordering '<PRE> prefix <SUF> suffix <MID> middle' —
    the causal-LM objective that teaches infilling without
    architecture changes.

    Determinism: both cuts derive from md5(doc_id) buckets over
    [0, n); least/greatest orders them; slices are 1-based
    array slices identical in both engines.

    Scale: pure scan-fused per-row array surgery — zero shuffles.
    """
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("ws"))
    c1 = ("CAST(conv(substr(md5(concat(cast(doc_id as string), ':c1')),"
          " 1, 6), 16, 10) AS INT) % size(ws)")
    c2 = ("CAST(conv(substr(md5(concat(cast(doc_id as string), ':c2')),"
          " 1, 6), 16, 10) AS INT) % size(ws)")
    return (base.where(F.size("ws") >= 2)
            .withColumn("a", F.expr(f"least({c1}, {c2})"))
            .withColumn("b", F.expr(f"greatest({c1}, {c2})"))
            .select(
                "doc_id",
                F.size("ws").alias("n_tokens"),
                F.col("a").alias("cut_a"), F.col("b").alias("cut_b"),
                F.expr(
                    "concat('<PRE> ', array_join(slice(ws, 1, a), ' '),"
                    " ' <SUF> ',"
                    " array_join(slice(ws, b + 1, size(ws) - b), ' '),"
                    " ' <MID> ',"
                    " array_join(slice(ws, a + 1, b - a), ' '))")
                .alias("psm_text")))


_FIM_SQL = r"""
WITH base AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
cut AS (
  SELECT doc_id, ws, CAST(len(ws) AS INT) AS n_tokens,
         least(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':c1'),
                                   1, 6) AS INT) % len(ws),
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':c2'),
                                   1, 6) AS INT) % len(ws)) AS a,
         greatest(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':c1'), 1, 6) AS INT)
                      % len(ws),
                  CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                          || ':c2'), 1, 6) AS INT)
                      % len(ws)) AS b
  FROM base WHERE len(ws) >= 2
)
SELECT doc_id, n_tokens,
       CAST(a AS INT) AS cut_a, CAST(b AS INT) AS cut_b,
       -- coalesce each slice: array_to_string([]) is NULL in DuckDB
       -- while Spark's array_join gives '' (CLAUDE.md gotcha)
       '<PRE> ' || coalesce(array_to_string(ws[1:a], ' '), '')
       || ' <SUF> '
       || coalesce(array_to_string(ws[b + 1:n_tokens], ' '), '')
       || ' <MID> '
       || coalesce(array_to_string(ws[a + 1:b], ' '), '') AS psm_text
FROM cut
"""


QUERIES["fim_transform"] = (fim_transform, _FIM_SQL)


# ---------------------------------------------------------------------------
# Vocab-size ablation: fertility curve at merge-list prefixes
# ---------------------------------------------------------------------------
_ABLATION_PREFIXES = (0, 2, 4, 8)


def vocab_ablation_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab-size ablation: train the BPE merge list ONCE
    (corpus_queries._trained_merge_list — same trainer the encode
    query bakes in), then measure corpus fertility (chars per token)
    with only the first m merges applied, m in _ABLATION_PREFIXES.
    The curve's flattening point tells a tokenizer team where extra
    vocab stops buying compression — measured on the live corpus, not
    the training set of the tokenizer paper.

    Determinism: merges and replaces are the bpe_encode_docs
    expressions verbatim; token counts are exact separator splits;
    fertility is an integer e4 rational.

    Scale: the ONE encode scan carries all checkpoints — each prefix
    is an intermediate state of the same replace chain, so adding a
    curve point costs zero extra scans (vs re-encoding per vocab).
    Trainer cost identical to bpe_train_merges.
    """
    from ..functions import text as T
    from .corpus_queries import _BPE_SEP, _trained_merge_list, BPE_K

    # the curve's checkpoints are prefixes of the trained list; a
    # shorter trainer would silently mislabel the Spark arms while the
    # oracle's e{m} CTE reference crashed — pin the contract
    assert BPE_K >= max(_ABLATION_PREFIXES)
    merges = _trained_merge_list(spark, sf_dir, BPE_K)
    sep, sep2 = _BPE_SEP, _BPE_SEP * 2
    docs = load(spark, sf_dir, "documents")
    pretoks = (docs.select(F.explode(T.bpe_pretokens(F.col("text")))
                           .alias("tok"))
               .where(~F.col("tok").contains(sep)))
    state = F.concat(F.lit(sep),
                     F.array_join(F.split(F.col("tok"), ""), sep2),
                     F.lit(sep))
    checkpoints = {}
    applied = 0
    for m in _ABLATION_PREFIXES:
        for _rank, a, b, _merged, _cnt in merges[applied:m]:
            state = F.replace(state,
                              F.lit(f"{sep}{a}{sep2}{b}{sep}"),
                              F.lit(f"{sep}{a}{b}{sep}"))
        applied = m
        checkpoints[m] = F.size(F.filter(
            F.split(state, sep), lambda s: s != "")).alias(f"t{m}")
    counted = pretoks.select(
        F.length("tok").alias("chars"), *checkpoints.values())
    agg = counted.agg(
        F.sum("chars").alias("total_chars"),
        *[F.sum(f"t{m}").alias(f"tok{m}") for m in _ABLATION_PREFIXES])
    curve = F.array(*[
        F.struct(F.lit(m).alias("n_merges"),
                 F.col(f"tok{m}").alias("total_tokens"))
        for m in _ABLATION_PREFIXES])
    return (agg.select("total_chars", F.explode(curve).alias("c"))
            .select(F.col("c.n_merges").cast("int").alias("n_merges"),
                    F.col("c.total_tokens").cast("long")
                    .alias("total_tokens"),
                    F.col("total_chars").cast("long").alias("total_chars"),
                    F.expr("(10000 * total_chars) div c.total_tokens")
                    .alias("chars_per_token_e4")))


def _vocab_ablation_sql() -> str:
    from ..functions import text as T
    from .corpus_queries import _bpe_shared_ctes, BPE_K

    ctes = _bpe_shared_ctes()
    ctes.append(rf"""e0 AS (
    SELECT tok,
           chr(31) || array_to_string(string_split(tok, ''),
                                      chr(31) || chr(31)) || chr(31) AS state
    FROM (SELECT unnest(regexp_extract_all(lower(text),
                                '{T.BPE_PRETOKEN_RE}')) AS tok
          FROM documents)
    WHERE tok NOT LIKE '%' || chr(31) || '%'
)""")
    for k in range(1, BPE_K + 1):
        ctes.append(f"""e{k} AS (
    SELECT e.tok,
           replace(e.state,
                   chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
                   chr(31) || bb.a || bb.b || chr(31)) AS state
    FROM e{k - 1} e, b{k} bb
)""")
    arms = " UNION ALL ".join(f"""
SELECT {m} AS n_merges,
       sum(len(list_filter(string_split(state, chr(31)), s -> s <> '')))
           AS total_tokens,
       sum(len(tok)) AS total_chars
FROM e{m}""" for m in _ABLATION_PREFIXES)
    return ("WITH " + ",\n".join(ctes) + f""",
arms AS ({arms})
SELECT CAST(n_merges AS INT) AS n_merges,
       CAST(total_tokens AS BIGINT) AS total_tokens,
       CAST(total_chars AS BIGINT) AS total_chars,
       CAST((10000 * total_chars) // total_tokens AS BIGINT)
           AS chars_per_token_e4
FROM arms
""")


QUERIES["vocab_ablation_curve"] = (vocab_ablation_curve,
                                   _vocab_ablation_sql())


# ---------------------------------------------------------------------------
# Tokenizer compression / fertility by domain bucket
# ---------------------------------------------------------------------------
def bpe_domain_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression report BY DOMAIN (``source``) with the
    trained BPE vocabulary — the standard pre-training corpus table
    next to Zipf/Heaps: chars per token (compression) and tokens per
    whitespace word (fertility) per domain, plus the raw totals a
    budget planner multiplies by cost-per-token. Complements
    ``vocab_ablation_curve`` (corpus-wide, BY VOCAB SIZE) and
    ``tokenizer_fertility_by_lang`` (by language, fixed subword rule):
    this one slices the FULL trained vocab (BPE_K merges, the
    bpe_train_merges list) across acquisition domains, where a
    high-fertility domain signals the tokenizer under-serves it.

    Determinism: encode expressions are bpe_encode_docs' verbatim;
    counts are exact separator splits; ratios are integer e4 rationals
    (CLAUDE.md: no engine-default double reductions).

    Scale: the trainer is the sanctioned driver-paced loop (BPE_K
    1-row argmax collects); the encode pass is ONE pretoken explode
    scan reduced to |domains| rows map-side, the word count ONE
    pruned (source, text) scan, joined broadcast on |domains| keys.
    Both scans prune to two columns at the parquet reader.
    """
    from ..functions import text as T
    from .corpus_queries import _BPE_SEP, _trained_merge_list, BPE_K

    merges = _trained_merge_list(spark, sf_dir, BPE_K)
    sep, sep2 = _BPE_SEP, _BPE_SEP * 2
    docs = load(spark, sf_dir, "documents")
    pretoks = (docs.select(
        "source", F.explode(T.bpe_pretokens(F.col("text"))).alias("tok"))
        .where(~F.col("tok").contains(sep)))
    state = F.concat(F.lit(sep),
                     F.array_join(F.split(F.col("tok"), ""), sep2),
                     F.lit(sep))
    for _rank, a, b, _merged, _cnt in merges:
        state = F.replace(state,
                          F.lit(f"{sep}{a}{sep2}{b}{sep}"),
                          F.lit(f"{sep}{a}{b}{sep}"))
    ntok = F.size(F.filter(F.split(state, sep), lambda s: s != ""))
    tok_agg = (pretoks
               .select("source", F.length("tok").alias("chars"),
                       ntok.alias("nt"))
               .groupBy("source")
               .agg(F.sum("chars").cast("long").alias("total_chars"),
                    F.sum("nt").cast("long").alias("total_tokens")))
    word_agg = (docs.select(
        "source",
        F.size(F.split(F.trim("text"), r"\s+")).alias("nw"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
             F.sum("nw").cast("long").alias("total_words")))
    return (word_agg.join(F.broadcast(tok_agg), "source", "left")
            .select(
                "source", "n_docs", "total_words",
                F.coalesce("total_tokens", F.lit(0)).cast("long")
                 .alias("total_tokens"),
                F.coalesce("total_chars", F.lit(0)).cast("long")
                 .alias("total_chars"),
                F.expr("(10000 * coalesce(total_chars, 0))"
                       " div greatest(coalesce(total_tokens, 0), 1)")
                 .alias("chars_per_token_e4"),
                F.expr("(10000 * coalesce(total_tokens, 0))"
                       " div greatest(total_words, 1)")
                 .alias("tokens_per_word_e4")))


def _bpe_domain_sql() -> str:
    from ..functions import text as T
    from .corpus_queries import _bpe_shared_ctes, BPE_K

    ctes = _bpe_shared_ctes()
    ctes.append(rf"""e0 AS (
    SELECT source, tok,
           chr(31) || array_to_string(string_split(tok, ''),
                                      chr(31) || chr(31)) || chr(31) AS state
    FROM (SELECT source,
                 unnest(regexp_extract_all(lower(text),
                        '{T.BPE_PRETOKEN_RE}')) AS tok
          FROM documents)
    WHERE tok NOT LIKE '%' || chr(31) || '%'
)""")
    for k in range(1, BPE_K + 1):
        ctes.append(f"""e{k} AS (
    SELECT e.source, e.tok,
           replace(e.state,
                   chr(31) || bb.a || chr(31) || chr(31) || bb.b || chr(31),
                   chr(31) || bb.a || bb.b || chr(31)) AS state
    FROM e{k - 1} e, b{k} bb
)""")
    return ("WITH " + ",\n".join(ctes) + rf""",
tok_agg AS (
    SELECT source,
           CAST(sum(len(tok)) AS BIGINT) AS total_chars,
           CAST(sum(len(list_filter(string_split(state, chr(31)),
                                    s -> s <> ''))) AS BIGINT)
               AS total_tokens
    FROM e{BPE_K}
    GROUP BY source
),
word_agg AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_split_to_array(trim(text), '\s+')))
                AS BIGINT) AS total_words
    FROM documents GROUP BY source
)
SELECT w.source, w.n_docs, w.total_words,
       CAST(coalesce(t.total_tokens, 0) AS BIGINT) AS total_tokens,
       CAST(coalesce(t.total_chars, 0) AS BIGINT) AS total_chars,
       (10000 * CAST(coalesce(t.total_chars, 0) AS BIGINT))
           // greatest(CAST(coalesce(t.total_tokens, 0) AS BIGINT), 1)
           AS chars_per_token_e4,
       (10000 * CAST(coalesce(t.total_tokens, 0) AS BIGINT))
           // greatest(w.total_words, 1) AS tokens_per_word_e4
FROM word_agg w LEFT JOIN tok_agg t USING (source)
""")


QUERIES["bpe_domain_compression"] = (bpe_domain_compression,
                                     _bpe_domain_sql())


# ---------------------------------------------------------------------------
# Watermark green-list detection (Kirchenbauer et al. 2023)
# ---------------------------------------------------------------------------
# gamma = 1/4 of the vocabulary is "green" at each position, keyed by a
# hash of the PREVIOUS token (the soft-watermark seeding rule). The
# detector flags a doc when the one-proportion z-score exceeds 4; with
# gamma = 1/4, z^2 = (4G - T)^2 / (3T), so the flag is the pure integer
# predicate 4G > T AND (4G - T)^2 > 48 T — no sqrt, no doubles.
_WM_Z2_NUM = 48  # 16 (z>4 squared) x 3 (=16·gamma(1-gamma)/gamma^2... folded)


def watermark_greenlist_detect(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-source watermark audit: the green-token fraction and the
    count of documents whose green excess clears the z > 4 detection
    bar — the screening pass a training-data pipeline runs to keep
    (deliberately watermarked) synthetic model output OUT of a
    pre-training corpus. Position i is green iff
    md5('wm:' || w[i-1] || SEP || w[i]) lands in the bottom quarter of
    the bucket space (seeded by the previous token, the soft-watermark
    rule); unwatermarked text should sit at green_frac ~ 1/4 with a
    z > 4 tail of ~3e-5 — a source whose rate is materially higher is
    machine-generated with this key.

    Determinism: greenness is a pure md5 predicate (bit-identical
    engines); the flag is the integer predicate above; the fraction is
    an integer e6 rational.

    Scale: ONE documents scan; the per-position hash runs inside a
    document-local HOF (no explode, no shuffle of token rows), then a
    map-side-combinable |sources|-key aggregate. At 100 TB the hash
    work is embarrassingly parallel and the shuffle is |sources| rows.
    """
    docs = (load(spark, sf_dir, "documents")
            .select("source",
                    F.split(F.trim("text"), r"\s+").alias("w")))
    g = F.expr(
        "size(filter(sequence(2, greatest(size(w), 2)),"
        " i -> i <= size(w) AND"
        " conv(substr(md5(concat('wm:', element_at(w, i - 1), chr(1),"
        " element_at(w, i))), 1, 12), 16, 10) % 4 = 0))")
    scored = docs.select(
        "source",
        (F.size("w") - 1).cast("long").alias("t"),
        g.cast("long").alias("g"))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("t") >= 1, 1).otherwise(0))
                  .cast("long").alias("n_scored"),
                 F.sum(F.when(
                     (F.col("t") >= 1) & (4 * F.col("g") > F.col("t"))
                     & ((4 * F.col("g") - F.col("t"))
                        * (4 * F.col("g") - F.col("t"))
                        > _WM_Z2_NUM * F.col("t")), 1).otherwise(0))
                  .cast("long").alias("n_flagged"),
                 F.sum(F.when(F.col("t") >= 1, F.col("g")).otherwise(0))
                  .cast("long").alias("green_tokens"),
                 F.sum(F.when(F.col("t") >= 1, F.col("t")).otherwise(0))
                  .cast("long").alias("scored_tokens"))
            .select("source", "n_docs", "n_scored", "n_flagged",
                    "green_tokens", "scored_tokens",
                    F.expr("(1000000 * green_tokens)"
                           " div greatest(scored_tokens, 1)")
                     .alias("green_frac_e6")))


_WM_SQL = rf"""
WITH scored AS (
  SELECT source,
         CAST(len(w) - 1 AS BIGINT) AS t,
         CAST(len(list_filter(range(2, greatest(len(w), 2) + 1),
              i -> i <= len(w) AND
                   CAST('0x' || substr(md5('wm:' || w[i - 1] || chr(1)
                        || w[i]), 1, 12) AS BIGINT) % 4 = 0))
              AS BIGINT) AS g
  FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w
        FROM documents)
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN t >= 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_scored,
       CAST(sum(CASE WHEN t >= 1 AND 4 * g > t
                     AND (4 * g - t) * (4 * g - t) > {_WM_Z2_NUM} * t
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       CAST(sum(CASE WHEN t >= 1 THEN g ELSE 0 END) AS BIGINT)
           AS green_tokens,
       CAST(sum(CASE WHEN t >= 1 THEN t ELSE 0 END) AS BIGINT)
           AS scored_tokens,
       (1000000 * CAST(sum(CASE WHEN t >= 1 THEN g ELSE 0 END) AS BIGINT))
           // greatest(CAST(sum(CASE WHEN t >= 1 THEN t ELSE 0 END)
                            AS BIGINT), 1) AS green_frac_e6
FROM scored
GROUP BY source
"""

QUERIES["watermark_greenlist_detect"] = (watermark_greenlist_detect,
                                         _WM_SQL)


# ---------------------------------------------------------------------------
# vocab_coverage_at_k: token-occurrence share covered by the top-k vocab
# ---------------------------------------------------------------------------
VCK_KS = (10, 50, 100, 500)


def vocab_coverage_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage@k of the corpus vocabulary: for each k, the share of
    ALL token occurrences covered by the k most frequent types (ties
    on the token string) — the table behind every "a 32k vocab covers
    99.x% of tokens" claim in a tokenizer design doc.

    The rank over types uses the two-level bucket walk on log2(count)
    buckets (count-derived, bounded by the frequency range — never a
    single-partition sort of the vocabulary): rank = cum_before(bucket,
    counts DESC) + bucket-local rank.

    Scale: one scan to type counts (map-side combinable); bucket table
    ≤ 64 rows; the k-probe explodes a 4-literal array against the
    top-max(k) slice.
    """
    toks = (load(spark, sf_dir, "documents")
            .select(F.explode(F.expr(
                "filter(split(trim(lower(text)), '\\\\s+'), t -> t <> '')"))
                .alias("tok"))
            .groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c")))
    # log2 buckets of count: DESC rank = cum of STRICTLY-bigger buckets
    rows = toks.withColumn("bkt", F.expr("length(bin(c)) - 1"))
    b = rows.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("bn"))
    cumb = (b.alias("a")
            .join(F.broadcast(b.select(F.col("bkt").alias("cb"),
                                       F.col("bn").alias("cn"))),
                  F.col("cb") > F.col("a.bkt"), "left")
            .groupBy(F.col("a.bkt").alias("bkt"))
            .agg(F.coalesce(F.sum("cn"), F.lit(0)).cast("long")
                  .alias("cum_before")))
    tot = F.broadcast(toks.agg(F.sum("c").cast("long").alias("t")))
    wloc = Window.partitionBy("bkt").orderBy(F.col("c").desc(),
                                             F.col("tok").asc())
    ranked = (rows.join(F.broadcast(cumb), "bkt")
              .withColumn("rk", F.col("cum_before")
                          + F.row_number().over(wloc).cast("long")))
    ks = F.explode(F.array(*[F.lit(k) for k in VCK_KS])).alias("k")
    return (ranked.where(F.col("rk") <= max(VCK_KS))
            .select("c", "rk", ks)
            .where(F.col("rk") <= F.col("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("n_types"),
                 F.sum("c").cast("long").alias("covered"))
            .crossJoin(tot)
            .select("k", "n_types", "covered",
                    F.expr("(1000000 * covered) div t")
                     .alias("coverage_e6")))


def _vck_sql() -> str:
    ks = " UNION ALL ".join(f"SELECT {k} AS k" for k in VCK_KS)
    return f"""
WITH toks AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(list_filter(string_split(trim(lower(text)), ' '),
               t -> t <> '')) AS tok FROM documents)
  GROUP BY 1
),
rows_t AS (SELECT tok, c, length(bin(c)) - 1 AS bkt FROM toks),
b AS (SELECT bkt, CAST(count(*) AS BIGINT) AS bn FROM rows_t GROUP BY 1),
cumb AS (
  SELECT a.bkt, CAST(coalesce(sum(cb.bn), 0) AS BIGINT) AS cum_before
  FROM b a LEFT JOIN b cb ON cb.bkt > a.bkt
  GROUP BY 1
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM toks),
ranked AS (
  SELECT r.c,
         cum_before + CAST(row_number() OVER (PARTITION BY r.bkt
             ORDER BY r.c DESC, r.tok ASC) AS BIGINT) AS rk
  FROM rows_t r JOIN cumb USING (bkt)
)
SELECT k, CAST(count(*) AS BIGINT) AS n_types,
       CAST(sum(c) AS BIGINT) AS covered,
       (1000000 * CAST(sum(c) AS BIGINT)) // (SELECT t FROM tot)
           AS coverage_e6
FROM ranked JOIN ({ks}) ks ON ranked.rk <= ks.k
WHERE rk <= {max(VCK_KS)}
GROUP BY k
"""


QUERIES["vocab_coverage_at_k"] = (vocab_coverage_at_k, _vck_sql())


# --------------------------------------------------------------------------
# nucleus_cutoff_profile (round 10)
# --------------------------------------------------------------------------
_NUC_P_NUM, _NUC_P_DEN = 9, 10   # nucleus mass p = 0.9, exact rational


def nucleus_cutoff_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) sampling cutoff planning: under the corpus
    bigram model, how many distinct next words does it take to cover
    p = {_NUC_P_NUM}/{_NUC_P_DEN} of the continuation mass of each
    context, profiled by the context's frequency (floor-log2 bucket)?
    Rare contexts have flat continuation distributions (large k*,
    sampler must keep many candidates); frequent ones are peaked —
    the table a serving team reads top-k truncation limits from, and
    the vocabulary-side sibling of ``speculative_draft_policy``.

    Determinism/exactness: k* per context is the smallest rank with
    {_NUC_P_DEN}·cum ≥ {_NUC_P_NUM}·total — pure integer counts, rank
    order (count DESC, word ASC) unique per context; the ROWS
    cumulative sum is an exact integer regardless of partitioning.

    Scale: bigram counts are one keyed aggregate on md5(context)
    (fixed-width shuffle key); the rank/cumsum window partitions BY
    CONTEXT (alphabet-bounded rows per key, never corpus-wide); the
    output is a ≤~20-row log2 histogram via one map-side-combinable
    aggregate.
    """
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.split(F.trim(F.lower(F.col("text"))), r"\s+")
                    .alias("w")))
    toks = docs.select("doc_id", F.posexplode("w").alias("pos", "cur"))
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    pairs = (toks.withColumn("nxt", F.lead("cur").over(wdoc))
             .where(F.col("nxt").isNotNull())
             .select(F.unhex(F.md5("cur")).alias("ck"), "nxt"))
    cnt = pairs.groupBy("ck", "nxt").agg(F.count(F.lit(1)).alias("c"))
    wr = (Window.partitionBy("ck")
          .orderBy(F.desc("c"), F.asc("nxt"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = cnt.select(
        "ck", "c",
        F.sum("c").over(wr).alias("cum"),
        F.row_number().over(
            Window.partitionBy("ck").orderBy(F.desc("c"), F.asc("nxt")))
        .alias("rnk"),
        F.sum("c").over(Window.partitionBy("ck")).alias("total"))
    kstar = (ranked
             .where(_NUC_P_DEN * F.col("cum")
                    >= _NUC_P_NUM * F.col("total"))
             .groupBy("ck")
             .agg(F.min("rnk").alias("k_star"),
                  F.min("total").alias("total")))
    return (kstar
            .groupBy(F.expr("length(bin(total)) - 1").cast("int")
                     .alias("ctx_freq_log2"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_contexts"),
                 F.sum("k_star").cast("long").alias("k_sum"),
                 F.max("k_star").cast("int").alias("k_max"))
            .select("ctx_freq_log2", "n_contexts",
                    F.expr("k_sum div n_contexts").alias("k_mean_floor"),
                    "k_max"))


_NUC_SQL = rf"""
WITH docs AS (
    SELECT doc_id,
           regexp_split_to_array(trim(lower(text)), '\s+') AS w
    FROM documents
),
toks AS (
    SELECT doc_id, t.i - 1 AS pos, w[t.i] AS cur
    FROM docs, unnest(range(1, len(w) + 1)) AS t(i)
),
prs AS (
    SELECT unhex(md5(cur)) AS ck,
           lead(cur) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
    FROM toks
),
cnt AS (
    SELECT ck, nxt, CAST(count(*) AS BIGINT) AS c
    FROM prs WHERE nxt IS NOT NULL GROUP BY 1, 2
),
ranked AS (
    SELECT ck, c,
           CAST(sum(c) OVER (PARTITION BY ck ORDER BY c DESC, nxt ASC
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           row_number() OVER (PARTITION BY ck
                              ORDER BY c DESC, nxt ASC) AS rnk,
           CAST(sum(c) OVER (PARTITION BY ck) AS BIGINT) AS total
    FROM cnt
),
kstar AS (
    SELECT ck, CAST(min(rnk) AS BIGINT) AS k_star, min(total) AS total
    FROM ranked
    WHERE {_NUC_P_DEN} * cum >= {_NUC_P_NUM} * total
    GROUP BY ck
)
SELECT CAST(length(bin(total)) - 1 AS INT) AS ctx_freq_log2,
       CAST(count(*) AS BIGINT) AS n_contexts,
       CAST(sum(k_star) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS k_mean_floor,
       CAST(max(k_star) AS INT) AS k_max
FROM kstar
GROUP BY 1
"""

QUERIES["nucleus_cutoff_profile"] = (nucleus_cutoff_profile, _NUC_SQL)


# ---------------------------------------------------------------------------
# distinct_ngram_diversity (round 11): degeneration / mode-collapse audit
# ---------------------------------------------------------------------------
# distinct-n (Li et al. 2016): the fraction of n-gram OCCURRENCES that
# are distinct TYPES, per source and n in 1..3. The standard screen for
# sampling degeneracy in model-generated corpora — a source whose
# distinct-2/distinct-3 collapses versus its peers is emitting repeated
# phrases (greedy decoding loops, temperature too low) and should not
# enter a pre-training mix unfiltered.
_DNG_NS = (1, 2, 3)


def distinct_ngram_diversity(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per (source, n): total n-gram occurrences, distinct n-gram
    types, and distinct-n = types/occurrences (e6) — plus the same
    ratio restricted to within-document repetition (types counted per
    doc) so cross-doc boilerplate and within-doc loops are separable.

    Determinism: counts are exact; grams shuffle as unhex(md5(...))
    binary keys (fixed-width payload rule); the two ratios are floored
    integer e6 divisions.

    Scale: ONE documents scan and ONE linear aggregation chain — no
    self-join, no second explode pass. Every statistic falls out of a
    three-level shrinking rollup (each level strictly coarser than the
    last, all map-side-combinable counts/sums):

      (source, n, doc_id, gh)  occurrences per doc-local type
      (source, n, gh)          occ_g = total occurrences of the type;
                               docs_g = #docs containing it
      (source, n)              total_ngrams     = sum(occ_g)
                               distinct_ngrams  = count(rows)
                               doc_distinct_sum = sum(docs_g)

    because sum_docs(countDistinct(gh)) == #distinct (doc, gh) pairs
    == sum_gh(#docs containing gh), and gh is never NULL (a doc too
    short for n grams explodes to zero rows). The r11 shape ran the
    scan+explode+md5 twice (per-doc branch + corpus-distinct branch,
    two different subtrees joined at the end — guide §2.4) and paid
    countDistinct expands; this is the same exact arithmetic in one
    pass. At 100 TB swap the exact distinct for approx_count_distinct
    or an HLL sketch merge (operators/sketches.py) if 1% error is
    tolerable; the exact plan here is the oracle-checkable ground
    truth.
    """
    docs = fan_out(load(spark, sf_dir, "documents")
                   .select("doc_id", "source", "text"), "doc_id") \
        .select("doc_id", "source",
                F.split(F.trim("text"), r"\s+").alias("w"))
    grams = (docs.select(
        "doc_id", "source",
        F.explode(F.array(*[F.lit(n) for n in _DNG_NS])).alias("n"),
        "w")
        .select("doc_id", "source", "n", F.explode(F.expr(
            "CASE WHEN size(w) >= n THEN transform("
            "sequence(1, size(w) - n + 1),"
            " i -> unhex(md5(array_join(slice(w, i, n), chr(31)))))"
            " ELSE array() END")).alias("gh")))
    per_doc_type = (grams.groupBy("source", "n", "doc_id", "gh")
                    .agg(F.count(F.lit(1)).alias("c")))
    per_type = (per_doc_type.groupBy("source", "n", "gh")
                .agg(F.sum("c").alias("occ_g"),
                     F.count(F.lit(1)).alias("docs_g")))
    return (per_type.groupBy("source", "n")
            .agg(F.sum("occ_g").cast("long").alias("total_ngrams"),
                 F.count(F.lit(1)).cast("long").alias("distinct_ngrams"),
                 F.sum("docs_g").cast("long").alias("doc_distinct_sum"))
            .select("source", F.col("n").cast("long").alias("n"),
                    "total_ngrams", "distinct_ngrams",
                    F.expr("(1000000 * distinct_ngrams)"
                           " div greatest(total_ngrams, 1)")
                     .alias("distinct_frac_e6"),
                    F.expr("(1000000 * doc_distinct_sum)"
                           " div greatest(total_ngrams, 1)")
                     .alias("within_doc_distinct_frac_e6")))


_DNG_SQL = rf"""
WITH grams AS (
    SELECT doc_id, source, n,
           unnest(CASE WHEN len(w) >= n THEN list_transform(
                      range(1, len(w) - n + 2),
                      i -> unhex(md5(array_to_string(w[i:i + n - 1],
                                                     chr(31)))))
                  ELSE [] END) AS gh
    FROM (SELECT doc_id, source,
                 regexp_split_to_array(trim(text), '\s+') AS w
          FROM documents),
         (SELECT unnest([{", ".join(str(n) for n in _DNG_NS)}]) AS n)
),
per_doc AS (
    SELECT source, n, doc_id,
           CAST(count(*) AS BIGINT) AS occ,
           CAST(count(DISTINCT gh) AS BIGINT) AS typ
    FROM grams GROUP BY 1, 2, 3
),
per_src AS (
    SELECT source, n,
           CAST(sum(occ) AS BIGINT) AS total_ngrams,
           CAST(sum(typ) AS BIGINT) AS doc_distinct_sum
    FROM per_doc GROUP BY 1, 2
),
uniq AS (
    SELECT source, n, CAST(count(DISTINCT gh) AS BIGINT)
               AS distinct_ngrams
    FROM grams GROUP BY 1, 2
)
SELECT s.source, CAST(s.n AS BIGINT) AS n, s.total_ngrams,
       u.distinct_ngrams,
       (1000000 * u.distinct_ngrams)
           // greatest(s.total_ngrams, 1) AS distinct_frac_e6,
       (1000000 * s.doc_distinct_sum)
           // greatest(s.total_ngrams, 1)
           AS within_doc_distinct_frac_e6
FROM per_src s JOIN uniq u USING (source, n)
"""

QUERIES["distinct_ngram_diversity"] = (distinct_ngram_diversity,
                                       _DNG_SQL)
