"""Distributed cardinality / frequency sketches, bit-deterministic
across engines.

At 100 TB "how many distinct tokens / users / urls" cannot be answered
with COUNT(DISTINCT) — the distinct shuffle alone is the size of the
vocabulary. These are the standard sketch answers, built from scratch
on md5 so Spark and the DuckDB oracle produce IDENTICAL results (the
repo's cross-engine hash idiom — Spark ``conv(substr(md5(x),..),16,10)``
== DuckDB ``CAST('0x' || substr(md5(x),..) AS BIGINT)``, verified
bit-equal, as is ``bin()``/integer ``div``):

- KMV (k-minimum-values): keep the k smallest 48-bit hashes of the
  distinct stream; estimate = (k-1) * 2^48 / h_(k).  Exact integer
  math end-to-end.
- HyperLogLog: m=256 buckets from the first md5 byte, rho = leading
  zeros of the next 48 bits + 1. The harmonic sum is kept in integer
  space (sum of 2^(49-M_j) ≤ 2^57 < int64), so cross-engine float
  association never arises; one final float expression, written
  identically in both engines.
- Count-Min: d=2 x w=1024 integer counter matrix from salted md5;
  point estimate = min over rows; always >= the exact count.

Against the tiny driver tables the queries also compute the EXACT
answer next to the estimate (the recall-eval pattern of
``ann_recall_eval``) so correctness of the sketch math — not just
determinism — is continuously asserted by the oracle gate.

Scale: every sketch is one corpus scan + a map-side-combinable
aggregation to a bounded state (k rows / m rows / d*w cells); no
distinct shuffle of the raw keys ever happens at production shape.
Reference semantics anchor: the run-report counters of
/root/reference/alma_publish_parser.py (OP-A1) are exact counts at
reference scale; these are their 100 TB replacements.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..tables import load, persist

KMV_K = 256
HLL_M = 256          # 2^8 buckets, first 2 hex chars of md5
TWO48 = 281_474_976_710_656          # 2^48
TWO49 = 562_949_953_421_312          # 2^49
CMS_W = 1024
CMS_SALTS = ("cms0:", "cms1:")
TOPN = 20


SHINGLE_N = 3


def _tokens(docs: DataFrame) -> DataFrame:
    """The counted stream: word 3-gram shingles (the dedup family's
    shingle stream — `functions/text.word_shingles` — whose corpus-wide
    distinct count is what a near-dup pass actually needs to size).
    Unigrams would be trivial here: the driver corpus has a ~31-token
    vocabulary; 3-grams give a 10^4+ cardinality estimation regime."""
    from ..functions.text import word_shingles
    from ..tables import fan_out

    # fan_out: the shingle explode + md5 downstream is the per-row-
    # heavy work and otherwise serializes on the single-row-group
    # driver scan (guide §2.5; no-op on many-split inputs)
    return (fan_out(docs, "doc_id").select(
                F.explode(word_shingles(F.lower(F.col("text")), SHINGLE_N))
                 .alias("gram"))
            .where(F.col("gram") != ""))


_TOKS_SQL = r"""toks AS (
    SELECT unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {nm1}, 0) + 1),
               i -> array_to_string(list_slice(t, i, i + {nm1}), ' ')))) AS gram
    FROM (SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t
          FROM documents)
), terms AS (SELECT gram FROM toks WHERE gram <> '')""".format(
    nm1=SHINGLE_N - 1)


def _h48(col: Column, prefix: str = "") -> Column:
    """48-bit integer hash; bit-equal to the DuckDB '0x'||substr form."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 12),
                  16, 10).cast("long")


# --------------------------------------------------------------------------
# KMV distinct estimate
# --------------------------------------------------------------------------
def kmv_distinct(spark: SparkSession, sf_dir: str, k: int = KMV_K) -> DataFrame:
    """k-minimum-values distinct-token estimate, next to the exact count.

    Scale: the k smallest distinct hashes are a TakeOrdered (per-
    partition top-k, then a k-row merge on one reducer) — the only
    full-width shuffle is the distinct on the 8-byte hash, and at
    production you'd replace that with a per-partition KMV merge
    (aggregate k-sets, union, re-truncate); the estimate itself is
    exact int64 math so both engines agree to the last digit.
    """
    docs = load(spark, sf_dir, "documents")
    # ONE tokenize pass + ONE corpus-wide distinct on the 16-byte md5
    # key feeds both branches (persisted — vocab-sized): the 48-bit
    # sketch hash is the first 6 md5 bytes, so distinct(h48(gram)) ==
    # distinct(h48 over distinct md5s) — the former shape ran the
    # shingle explode twice and shuffled the corpus once per branch.
    dm = persist(_tokens(docs).select(F.unhex(F.md5("gram")).alias("mh"))
                 .distinct())
    hashes = (dm.select(F.conv(F.hex(F.substring("mh", 1, 6)), 16, 10)
                        .cast("long").alias("h")).distinct())
    kth = (hashes.orderBy("h").limit(k)
           .agg(F.max("h").alias("h_k"), F.count(F.lit(1)).alias("n_kept")))
    exact = dm.agg(F.count(F.lit(1)).alias("exact_distinct"))
    # fewer than k distinct values → the sketch holds the whole set and
    # IS the exact answer (standard KMV small-cardinality case)
    est = F.expr(f"CASE WHEN n_kept < {k} THEN n_kept"
                 f" ELSE {k - 1} * {TWO48}L div h_k END")
    return (kth.crossJoin(F.broadcast(exact))
            .select(F.lit(k).cast("int").alias("k"),
                    F.col("h_k"),
                    est.alias("est_distinct"),
                    F.col("exact_distinct"),
                    F.round(F.lit(100.0) * (est - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 2).alias("err_pct")))


def _kmv_sql(k: int = KMV_K) -> str:
    return f"""
WITH {_TOKS_SQL},
hashes AS (
    SELECT DISTINCT CAST('0x' || substr(md5(gram), 1, 12) AS BIGINT) AS h
    FROM terms
),
kth AS (
    SELECT max(h) AS h_k, count(*) AS n_kept
    FROM (SELECT h FROM hashes ORDER BY h LIMIT {k})
),
exact AS (SELECT count(DISTINCT unhex(md5(gram))) AS exact_distinct FROM terms)
SELECT CAST({k} AS INT) AS k, h_k,
       CASE WHEN n_kept < {k} THEN n_kept
            ELSE {k - 1} * {TWO48} // h_k END AS est_distinct,
       exact_distinct,
       round(100.0 * (CASE WHEN n_kept < {k} THEN n_kept
                           ELSE {k - 1} * {TWO48} // h_k END
                      - exact_distinct) / exact_distinct, 2) AS err_pct
FROM kth CROSS JOIN exact
"""


# --------------------------------------------------------------------------
# HyperLogLog distinct estimate
# --------------------------------------------------------------------------
def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL(m=256) distinct-token estimate with the exact count beside it.

    bucket = first md5 byte; rho = (48 - bitlength(next 48 bits)) + 1
    via ``length(bin(v))`` (bit-equal in both engines, bin(0)='0' so
    v=0 maps to rho=49 through the 48-bit cap). The harmonic mean stays
    integer: S = Σ 2^(49-M_j) over present buckets + 2^49 per empty
    bucket, ≤ 256·2^49 < 2^63. Small-range (linear-counting) correction
    applies below 2.5m with empty buckets — written as the identical
    expression in both engines.

    Scale: one scan → max-per-bucket (map-side combinable, 256-row
    state) → 1-row estimate. This is THE distinct-count shape for
    100 TB; the exact branch exists only for the oracle assertion.
    """
    docs = load(spark, sf_dir, "documents")
    toks = _tokens(docs)
    md5c = F.md5(F.col("gram"))
    # One pass: distinct the md5 keys FIRST (one shuffle, map-side
    # partial dedup), then derive bucket/rho from the already-distinct
    # keys — bucket and rho are pure functions of the hash, so the
    # register maxima are unchanged, and count(*) per bucket is the
    # exact per-bucket distinct (md5 partitions the gram space).
    # Replaces the old second tokenize+scan and global countDistinct,
    # and avoids the Expand doubling a mixed max+countDistinct
    # aggregate would pay.
    # distinct on the 16-byte unhex key, not the 32-char hex string
    # (CLAUDE.md shuffle-key rule — halves the distinct exchange);
    # bucket = first byte, v = bytes 2-7, identical values
    dh = toks.select(F.unhex(md5c).alias("mh")).distinct()
    bucket = F.conv(F.hex(F.substring("mh", 1, 1)), 16, 10).cast("long")
    v = F.conv(F.hex(F.substring("mh", 2, 6)), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(49).cast("long")) \
           .otherwise(F.lit(49) - F.length(F.bin(v))).cast("long")
    regs = (dh.select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("m_j"),
                                   F.count(F.lit(1)).alias("dc")))
    sums = regs.agg(
        F.count(F.lit(1)).alias("used_buckets"),
        F.sum(F.expr(f"{TWO49}L div shiftleft(1L, cast(m_j as int))"))
         .alias("s_present"),
        F.sum("dc").alias("exact_distinct"))
    alpha_num = "(0.7213 / (1 + 1.079 / 256.0))"
    s_total = f"(s_present + ({HLL_M} - used_buckets) * {TWO49}L)"
    raw = f"round({alpha_num} * {HLL_M} * {HLL_M} * {TWO49} / {s_total}, 0)"
    lc = f"round({HLL_M} * ln({HLL_M} / cast({HLL_M} - used_buckets as double)), 0)"
    est = F.expr(
        f"cast(CASE WHEN {raw} <= 2.5 * {HLL_M} AND used_buckets < {HLL_M}"
        f" THEN {lc} ELSE {raw} END as bigint)")
    return (sums
            .select(F.lit(HLL_M).cast("int").alias("m"),
                    F.col("used_buckets").cast("int").alias("used_buckets"),
                    est.alias("est_distinct"),
                    F.col("exact_distinct"),
                    F.round(F.lit(100.0) * (est - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 2).alias("err_pct")))


def _hll_sql() -> str:
    s_total = f"(s_present + ({HLL_M} - used_buckets) * {TWO49})"
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / {s_total}, 0)")
    lc = (f"round({HLL_M} * ln({HLL_M} /"
          f" CAST({HLL_M} - used_buckets AS DOUBLE)), 0)")
    return f"""
WITH {_TOKS_SQL},
regs AS (
    SELECT CAST('0x' || substr(mh, 1, 2) AS BIGINT) AS bucket,
           max(CASE WHEN CAST('0x' || substr(mh, 3, 12) AS BIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(CAST('0x' || substr(mh, 3, 12)
                                              AS BIGINT)))
               END) AS m_j,
           count(*) AS dc
    FROM (SELECT DISTINCT md5(gram) AS mh FROM terms) GROUP BY 1
),
sums AS (
    SELECT count(*) AS used_buckets,
           sum({TWO49} // (1::BIGINT << CAST(m_j AS INT))) AS s_present,
           CAST(sum(dc) AS BIGINT) AS exact_distinct
    FROM regs
)
SELECT CAST({HLL_M} AS INT) AS m,
       CAST(used_buckets AS INT) AS used_buckets,
       CAST(CASE WHEN {raw} <= 2.5 * {HLL_M} AND used_buckets < {HLL_M}
                 THEN {lc} ELSE {raw} END AS BIGINT) AS est_distinct,
       exact_distinct,
       round(100.0 * (CAST(CASE WHEN {raw} <= 2.5 * {HLL_M}
                                 AND used_buckets < {HLL_M}
                                THEN {lc} ELSE {raw} END AS BIGINT)
                      - exact_distinct) / exact_distinct, 2) AS err_pct
FROM sums
"""


# --------------------------------------------------------------------------
# Count-Min heavy hitters
# --------------------------------------------------------------------------
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min (d=2, w=1024) frequency estimates for the exact top-20
    terms, asserting the CMS guarantee est >= exact per row.

    Scale: the sketch is a d*w = 2048-cell integer matrix built by one
    map-side-combinable aggregation — the ONLY state a 100 TB frequency
    pass needs. Probing joins the (tiny) candidate set against the
    2048-row sketch via broadcast. The exact top-20 candidate list here
    stands in for whatever candidate stream production probes (the
    sketch itself never stores terms).
    """
    docs = load(spark, sf_dir, "documents")
    # persisted: tc feeds one sketch-cell branch per CMS row plus the
    # exact top-N probe — unpersisted, the tokenize + term count ran
    # once per branch (released via tables.release)
    tc = persist(_tokens(docs)
                 .select(F.unhex(F.md5("gram")).alias("gk"), "gram")
                 .groupBy("gk")
                 .agg(F.count(F.lit(1)).alias("exact_count"),
                      F.min("gram").alias("gram"))
                 .select("gram", "exact_count"))
    cells = None
    for row, salt in enumerate(CMS_SALTS):
        part = tc.select(
            F.lit(row).alias("row"),
            F.pmod(_h48(F.col("gram"), salt), F.lit(CMS_W)).alias("col"),
            F.col("exact_count"))
        cells = part if cells is None else cells.unionAll(part)
    sketch = cells.groupBy("row", "col").agg(
        F.sum("exact_count").alias("cell_count"))
    top = (tc.orderBy(F.desc("exact_count"), F.asc("gram")).limit(TOPN)
           .select("gram", "exact_count"))
    probes = None
    for row, salt in enumerate(CMS_SALTS):
        p = top.select(
            "gram", "exact_count", F.lit(row).alias("row"),
            F.pmod(_h48(F.col("gram"), salt), F.lit(CMS_W)).alias("col"))
        probes = p if probes is None else probes.unionAll(p)
    return (probes.join(F.broadcast(sketch), ["row", "col"])
            .groupBy("gram", "exact_count")
            .agg(F.min("cell_count").alias("est_count"))
            .select("gram", "exact_count", "est_count",
                    (F.col("est_count") - F.col("exact_count"))
                    .alias("overestimate"))
            .orderBy(F.desc("exact_count"), F.asc("gram")))


def _cms_sql() -> str:
    def h(salt: str, expr: str = "gram") -> str:
        return (f"CAST('0x' || substr(md5('{salt}' || {expr}), 1, 12)"
                f" AS BIGINT) % {CMS_W}")

    cell_parts = " UNION ALL ".join(
        f"SELECT {row} AS row, {h(salt)} AS col, exact_count FROM tc"
        for row, salt in enumerate(CMS_SALTS))
    probe_parts = " UNION ALL ".join(
        f"SELECT gram, exact_count, {row} AS row, {h(salt)} AS col FROM top"
        for row, salt in enumerate(CMS_SALTS))
    return f"""
WITH {_TOKS_SQL},
tc AS (SELECT min(gram) AS gram, count(*) AS exact_count
       FROM terms GROUP BY unhex(md5(gram))),
cells AS ({cell_parts}),
sketch AS (SELECT row, col, sum(exact_count) AS cell_count
           FROM cells GROUP BY row, col),
top AS (SELECT gram, exact_count FROM tc
        ORDER BY exact_count DESC, gram LIMIT {TOPN}),
probes AS ({probe_parts})
SELECT gram, exact_count, CAST(min(cell_count) AS BIGINT) AS est_count,
       CAST(min(cell_count) - exact_count AS BIGINT) AS overestimate
FROM probes JOIN sketch USING (row, col)
GROUP BY gram, exact_count
ORDER BY exact_count DESC, gram
"""


QUERIES = {
    "kmv_distinct_estimate": (kmv_distinct, _kmv_sql()),
    "hll_distinct_estimate": (hll_distinct, _hll_sql()),
    "cms_heavy_hitters": (cms_heavy_hitters, _cms_sql()),
}


# --------------------------------------------------------------------------
# Bloom-filter membership with measured false-positive rate
# --------------------------------------------------------------------------
BF_WORDS = 128           # 63 usable bits per word -> m = 8064 bits: sized so
                         # the sf0.01 key set exercises a measurable FPR
                         # (theory ~7.8%), not a degenerate all-zeros read
BF_BITS_PER_WORD = 63    # stay clear of the int64 sign bit
BF_M = BF_WORDS * BF_BITS_PER_WORD
BF_K = 3
BF_SALTS = ("bf0:", "bf1:", "bf2:")
BF_PROBES = 5000


def bloom_filter_fpr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a Bloom filter over the customer key set as DATA (2048
    int64 words, 3 salted md5 hash functions), probe it with 5000
    guaranteed non-members (ids past max+1 — data-derived, the id-
    namespace rule), and report the measured false-positive rate next
    to the theoretical (1−e^(−kn/m))^k — the sketch the engine's own
    runtime-filter join pruning uses, built and verified from scratch.

    Determinism: bit positions are md5-derived integers; words are
    ``bit_or`` of single-bit masks (order-free); the probe's bit test
    is integer shift/mod. The only float is the theory formula,
    written identically in both engines and rounded.

    Scale: the build is one scan → k-way explode → 2048-group
    map-side-combinable OR-aggregation; the filter is ~1 KB however
    big the key set, so the probe side joins it BROADCAST — exactly
    how a 100 TB anti-join pre-filter deploys (drop non-members before
    the real shuffle; the FPR is the fraction of useless rows that
    still reach it).
    """
    cust = load(spark, sf_dir, "customer").select("c_custkey")
    n_members = cust.agg(F.count(F.lit(1)).alias("n_members"),
                         F.max("c_custkey").alias("mx"))
    bits = None
    for salt in BF_SALTS:
        b = cust.select(
            F.pmod(_h48(F.col("c_custkey").cast("string"), salt),
                   F.lit(BF_M)).alias("h"))
        bits = b if bits is None else bits.unionAll(b)
    words = (bits.select(F.expr(f"h div {BF_BITS_PER_WORD}").alias("w"),
                         F.expr(f"shiftleft(1L, cast(h % {BF_BITS_PER_WORD}"
                                " as int))").alias("mask"))
             .groupBy("w").agg(F.bit_or("mask").alias("word")))
    probes = (n_members.select(
        F.explode(F.sequence(F.col("mx") + 1,
                             F.col("mx") + BF_PROBES)).alias("pid")))
    probe_bits = None
    for j, salt in enumerate(BF_SALTS):
        p = probes.select(
            "pid", F.lit(j).alias("j"),
            F.pmod(_h48(F.col("pid").cast("string"), salt),
                   F.lit(BF_M)).alias("h"))
        probe_bits = p if probe_bits is None else probe_bits.unionAll(p)
    checked = (probe_bits
               .select("pid", "j", F.expr(f"h div {BF_BITS_PER_WORD}")
                       .alias("w"),
                       F.expr(f"cast(h % {BF_BITS_PER_WORD} as int)")
                       .alias("bit"))
               .join(F.broadcast(words), "w", "left")
               .select("pid",
                       F.when(F.col("word").isNull(), F.lit(0))
                        .otherwise(F.expr("cast((shiftright(word, bit) % 2)"
                                          " as int)")).alias("hit")))
    fp = (checked.groupBy("pid").agg(F.min("hit").alias("all_set"))
          .agg(F.sum("all_set").alias("n_false_pos")))
    # no-false-negative guarantee, asserted in-query: probe every MEMBER
    # through the same words table — all k bits must be set for each
    member_bits = None
    for salt in BF_SALTS:
        p = cust.select(
            F.col("c_custkey").alias("pid"),
            F.pmod(_h48(F.col("c_custkey").cast("string"), salt),
                   F.lit(BF_M)).alias("h"))
        member_bits = p if member_bits is None else member_bits.unionAll(p)
    member_checked = (member_bits
                      .select("pid", F.expr(f"h div {BF_BITS_PER_WORD}")
                              .alias("w"),
                              F.expr(f"cast(h % {BF_BITS_PER_WORD} as int)")
                              .alias("bit"))
                      .join(F.broadcast(words), "w", "left")
                      .select("pid",
                              F.when(F.col("word").isNull(), F.lit(0))
                               .otherwise(F.expr(
                                   "cast((shiftright(word, bit) % 2)"
                                   " as int)")).alias("hit")))
    fn = (member_checked.groupBy("pid").agg(F.min("hit").alias("all_set"))
          .agg(F.sum(1 - F.col("all_set")).alias("n_false_neg")))
    theory = (f"round(pow(1.0 - exp(-{BF_K}.0 * n_members / {BF_M}),"
              f" {BF_K}), 4)")
    return (n_members.crossJoin(F.broadcast(fp)).crossJoin(F.broadcast(fn))
            .select(F.col("n_members").cast("long").alias("n_members"),
                    F.lit(BF_PROBES).cast("long").alias("n_probes"),
                    F.col("n_false_pos").cast("long").alias("n_false_pos"),
                    F.col("n_false_neg").cast("long").alias("n_false_neg"),
                    F.round(F.col("n_false_pos") / F.lit(BF_PROBES), 4)
                     .alias("fpr_measured"),
                    F.expr(theory).alias("fpr_theory"),
                    F.lit(BF_M).cast("long").alias("n_bits"),
                    F.lit(BF_K).cast("int").alias("k_hashes")))


def _bloom_sql() -> str:
    def h(salt: str, key: str) -> str:
        return (f"CAST('0x' || substr(md5('{salt}' || CAST({key} AS "
                f"VARCHAR)), 1, 12) AS BIGINT) % {BF_M}")

    bit_parts = " UNION ALL ".join(
        f"SELECT {h(salt, 'c_custkey')} AS h FROM customer"
        for salt in BF_SALTS)
    probe_parts = " UNION ALL ".join(
        f"SELECT pid, {j} AS j, {h(salt, 'pid')} AS h FROM probes"
        for j, salt in enumerate(BF_SALTS))
    member_parts = " UNION ALL ".join(
        f"SELECT c_custkey AS pid, {h(salt, 'c_custkey')} AS h FROM customer"
        for salt in BF_SALTS)
    theory = (f"round(pow(1.0 - exp(-{BF_K}.0 * n_members / {BF_M}),"
              f" {BF_K}), 4)")
    return f"""
WITH nm AS (SELECT count(*) AS n_members, max(c_custkey) AS mx
            FROM customer),
bits AS ({bit_parts}),
words AS (
    SELECT h // {BF_BITS_PER_WORD} AS w,
           bit_or(1::BIGINT << CAST(h % {BF_BITS_PER_WORD} AS INT)) AS word
    FROM bits GROUP BY 1
),
probes AS (
    SELECT unnest(generate_series(mx + 1, mx + {BF_PROBES})) AS pid FROM nm
),
pb AS ({probe_parts}),
checked AS (
    SELECT pid,
           CASE WHEN word IS NULL THEN 0
                ELSE CAST((word >> CAST(h % {BF_BITS_PER_WORD} AS INT)) % 2
                          AS INT) END AS hit
    FROM pb LEFT JOIN words ON words.w = pb.h // {BF_BITS_PER_WORD}
),
fp AS (
    SELECT CAST(sum(all_set) AS BIGINT) AS n_false_pos
    FROM (SELECT pid, min(hit) AS all_set FROM checked GROUP BY pid)
),
mb AS ({member_parts}),
member_checked AS (
    SELECT pid,
           CASE WHEN word IS NULL THEN 0
                ELSE CAST((word >> CAST(h % {BF_BITS_PER_WORD} AS INT)) % 2
                          AS INT) END AS hit
    FROM mb LEFT JOIN words ON words.w = mb.h // {BF_BITS_PER_WORD}
),
fn AS (
    SELECT CAST(sum(1 - all_set) AS BIGINT) AS n_false_neg
    FROM (SELECT pid, min(hit) AS all_set FROM member_checked GROUP BY pid)
)
SELECT CAST(n_members AS BIGINT) AS n_members,
       CAST({BF_PROBES} AS BIGINT) AS n_probes,
       n_false_pos,
       n_false_neg,
       round(n_false_pos / {BF_PROBES}, 4) AS fpr_measured,
       {theory} AS fpr_theory,
       CAST({BF_M} AS BIGINT) AS n_bits,
       CAST({BF_K} AS INT) AS k_hashes
FROM nm CROSS JOIN fp CROSS JOIN fn
"""


QUERIES["bloom_filter_fpr"] = (bloom_filter_fpr, _bloom_sql())


# --------------------------------------------------------------------------
# Fixed-bin histogram quantile sketch vs exact order statistics
# --------------------------------------------------------------------------
HQ_BINS = 128
HQ_QUANTILES = (("p50", 50), ("p90", 90), ("p99", 99))


def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation the way a 100 TB pipeline actually does it:
    one pass builds a fixed-width ``HQ_BINS``-bin histogram of
    events.value (min/max from a broadcast 1-row aggregate), quantiles
    read off the cumulative histogram at bin-midpoint resolution. The
    exact order statistic (global-sort row_number — affordable only at
    oracle scale) sits beside each estimate so the sketch's error is
    continuously measured; max error is half a bin width.

    Determinism: the bin id is floor of one identically-written float
    expression (same double in, same double out in both engines); bin
    counts are exact integers; the cumulative walk picks the FIRST bin
    reaching the target rank via struct-min; estimates are one float
    expression rounded.

    Scale: histogram build is a map-side-combinable 128-group
    aggregation — the only full shuffle in the sketch path carries 128
    rows. The exact order statistic reuses the SAME bins as rank
    buckets (two-level walk: bin id is monotone in value, so global
    rank = cum_before(bin) + bin-local rank): only the targeted bins
    re-rank, each window PARTITIONED by quantile. The round-8
    bounded-feeder audit caught the previous form running a global
    row_number over the corpus per quantile in the Spark plan.
    """
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    rng = F.broadcast(ev.agg(F.min("value").alias("mn"),
                             F.max("value").alias("mx"),
                             F.count(F.lit(1)).alias("n")))
    bin_expr = F.least(F.lit(HQ_BINS - 1),
                       F.floor((F.col("value") - F.col("mn"))
                               * HQ_BINS / (F.col("mx") - F.col("mn")))
                       .cast("int"))
    binned = ev.crossJoin(rng).select("event_id", "value",
                                      bin_expr.alias("bin"))
    binc = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window
    cum = binc.select(
        "bin", "c",
        F.sum("c").over(Window.orderBy("bin")
                        .rowsBetween(Window.unboundedPreceding, 0))
         .alias("cum"))
    targets = F.explode(F.array(*[
        F.struct(F.lit(q).alias("quantile"), F.lit(p).alias("pct"))
        for q, p in HQ_QUANTILES])).alias("t")
    chosen = (cum.crossJoin(rng)
              .select("bin", "c", "cum", "n", targets)
              .select("bin", "c", "cum",
                      F.col("t.quantile").alias("quantile"),
                      F.expr("cast(floor(t.pct * n / 100.0) as bigint) + 1")
                       .alias("k"))
              .where(F.col("cum") >= F.col("k"))
              .groupBy("quantile", "k")
              .agg(F.min(F.struct(
                  F.col("bin"),
                  (F.col("cum") - F.col("c")).alias("cum_before")))
                   .alias("cb"))
              .select("quantile", "k", F.col("cb.bin").alias("bin"),
                      F.col("cb.cum_before").alias("cum_before")))
    est = (chosen.crossJoin(rng)
           .select("quantile", F.col("k").alias("target_rank"),
                   F.round(F.col("mn") + (F.col("bin") + 0.5)
                           * (F.col("mx") - F.col("mn")) / HQ_BINS, 4)
                    .alias("est_value")))
    wp = Window.partitionBy("quantile").orderBy("value", "event_id")
    exact = (binned.join(F.broadcast(chosen), "bin")
             .withColumn("rn", F.row_number().over(wp).cast("long"))
             .where(F.col("rn") == F.col("k") - F.col("cum_before"))
             .select("quantile", F.round("value", 4).alias("exact_value")))
    return (est.join(exact, "quantile")
            .select("quantile", "target_rank", "est_value", "exact_value",
                    F.round(F.col("est_value") - F.col("exact_value"), 4)
                     .alias("err")))


def _hq_sql() -> str:
    parts = []
    for qname, pct in HQ_QUANTILES:
        tgt = f"CAST(floor({pct} * n / 100.0) AS BIGINT) + 1"
        parts.append(f"""
SELECT '{qname}' AS quantile, t.target_rank,
       round(r.mn + (fb.bin + 0.5) * (r.mx - r.mn) / {HQ_BINS}, 4)
           AS est_value,
       (SELECT round(value, 4) FROM ranked WHERE rn = t.target_rank)
           AS exact_value,
       round(round(r.mn + (fb.bin + 0.5) * (r.mx - r.mn) / {HQ_BINS}, 4)
             - (SELECT round(value, 4) FROM ranked
                WHERE rn = t.target_rank), 4) AS err
FROM rng r
CROSS JOIN (SELECT {tgt} AS target_rank FROM rng) t
CROSS JOIN (SELECT min(bin) AS bin
            FROM cum CROSS JOIN rng WHERE cum >= {tgt}) fb""")
    return f"""
WITH rng AS (SELECT min(value) AS mn, max(value) AS mx, count(*) AS n
             FROM events),
binned AS (
    SELECT least({HQ_BINS - 1},
                 CAST(floor((value - mn) * {HQ_BINS} / (mx - mn)) AS INT))
               AS bin
    FROM events CROSS JOIN rng
),
bc AS (SELECT bin, count(*) AS c FROM binned GROUP BY bin),
cum AS (
    SELECT bin, c,
           sum(c) OVER (ORDER BY bin
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM bc
),
ranked AS (
    SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn
    FROM events
)
{" UNION ALL ".join(parts)}
"""


QUERIES["histogram_quantile_sketch"] = (histogram_quantile_sketch, _hq_sql())


# --------------------------------------------------------------------------
# KMV set algebra: sketch-based join-overlap estimation
# --------------------------------------------------------------------------
def kmv_join_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from KMV sketches — the planner question
    ("how many customer keys does orders actually hit?") answered
    without shuffling either key set: sketch both sides' distinct
    48-bit key hashes, merge the two k-sets (valid because KMV keeps
    global minima), and read |A∪B| off the merged sketch;
    |A∩B| = |A|+|B|−|A∪B| by inclusion-exclusion. The exact
    intersection rides beside the estimate (oracle-asserted).

    All estimates are the exact-int64 KMV formula with the standard
    small-cardinality exact path (below k the sketch IS the set).
    Scale: two scans → two 256-row sketches → all algebra on ≤512
    rows. This is how a CBO sizes a join without touching statistics.
    """
    k = KMV_K
    orders = load(spark, sf_dir, "orders").select("o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey")

    def sketch(df, col, tag):
        h = _h48(F.col(col).cast("string"), "jk:")
        hashes = df.select(h.alias("h")).distinct()
        return (hashes.orderBy("h").limit(k)
                .agg(F.max("h").alias(f"hk_{tag}"),
                     F.count(F.lit(1)).alias(f"n_{tag}")))

    sa = sketch(orders, "o_custkey", "a")
    sb = sketch(cust, "c_custkey", "b")
    # merged sketch: k smallest of the union of the two k-sets
    ha = orders.select(_h48(F.col("o_custkey").cast("string"), "jk:")
                       .alias("h")).distinct().orderBy("h").limit(k)
    hb = cust.select(_h48(F.col("c_custkey").cast("string"), "jk:")
                     .alias("h")).distinct().orderBy("h").limit(k)
    su = (ha.unionAll(hb).distinct().orderBy("h").limit(k)
          .agg(F.max("h").alias("hk_u"), F.count(F.lit(1)).alias("n_u")))
    exact = (orders.select(F.col("o_custkey").alias("key")).distinct()
             .join(cust.select(F.col("c_custkey").alias("key")).distinct(),
                   "key")
             .agg(F.count(F.lit(1)).alias("exact_intersection")))

    def est(n, hk):
        return (f"CASE WHEN {n} < {k} THEN {n}"
                f" ELSE {k - 1} * {TWO48}L div {hk} END")

    ea, eb, eu = est("n_a", "hk_a"), est("n_b", "hk_b"), est("n_u", "hk_u")
    inter = f"greatest(({ea}) + ({eb}) - ({eu}), 0L)"
    return (sa.crossJoin(F.broadcast(sb)).crossJoin(F.broadcast(su))
            .crossJoin(F.broadcast(exact))
            .select(F.expr(ea).alias("est_a"),
                    F.expr(eb).alias("est_b"),
                    F.expr(eu).alias("est_union"),
                    F.expr(inter).alias("est_intersection"),
                    F.col("exact_intersection").cast("long")
                     .alias("exact_intersection"),
                    F.round(F.lit(100.0)
                            * (F.expr(inter) - F.col("exact_intersection"))
                            / F.col("exact_intersection"), 2)
                     .alias("err_pct")))


def _kmv_join_sql() -> str:
    k = KMV_K

    def h(key):
        return (f"CAST('0x' || substr(md5('jk:' || CAST({key} AS VARCHAR)),"
                f" 1, 12) AS BIGINT)")

    def est(n, hk):
        return (f"CASE WHEN {n} < {k} THEN {n}"
                f" ELSE {k - 1} * {TWO48} // {hk} END")

    ea, eb, eu = (est("n_a", "hk_a"), est("n_b", "hk_b"),
                  est("n_u", "hk_u"))
    inter = f"greatest(({ea}) + ({eb}) - ({eu}), 0)"
    return f"""
WITH ha AS (
    SELECT h FROM (SELECT DISTINCT {h('o_custkey')} AS h FROM orders)
    ORDER BY h LIMIT {k}
),
hb AS (
    SELECT h FROM (SELECT DISTINCT {h('c_custkey')} AS h FROM customer)
    ORDER BY h LIMIT {k}
),
sa AS (SELECT max(h) AS hk_a, count(*) AS n_a FROM ha),
sb AS (SELECT max(h) AS hk_b, count(*) AS n_b FROM hb),
su AS (
    SELECT max(h) AS hk_u, count(*) AS n_u
    FROM (SELECT DISTINCT h FROM (SELECT h FROM ha UNION ALL
                                  SELECT h FROM hb)
          ORDER BY h LIMIT {k})
),
exact AS (
    SELECT count(*) AS exact_intersection
    FROM (SELECT DISTINCT o_custkey AS key FROM orders) o
    JOIN (SELECT DISTINCT c_custkey AS key FROM customer) c USING (key)
)
SELECT {ea} AS est_a, {eb} AS est_b, {eu} AS est_union,
       {inter} AS est_intersection,
       CAST(exact_intersection AS BIGINT) AS exact_intersection,
       round(100.0 * ({inter} - exact_intersection) / exact_intersection, 2)
           AS err_pct
FROM sa CROSS JOIN sb CROSS JOIN su CROSS JOIN exact
"""


QUERIES["kmv_join_overlap"] = (kmv_join_overlap, _kmv_join_sql())


# --------------------------------------------------------------------------
# HLL mergeability: per-source registers OR-merge to the global sketch
# --------------------------------------------------------------------------
def hll_merge_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The property that makes HLL the 100 TB distinct-count answer:
    per-partition (here per-source) register tables MERGE by max into
    exactly the sketch a direct global pass builds — so shards sketch
    independently and a rollup never rescans. Asserted in-plan:
    register-level equality (provable — max is associative/commutative)
    plus both estimates side by side with the per-source estimate sum
    (which OVERcounts shared vocabulary, documenting why naive
    addition of distincts is wrong and merging is right).

    Scale: one scan builds (source, bucket) registers map-side; the
    merge is a 256-group max — sketch algebra never touches the corpus
    again.
    """
    docs = load(spark, sf_dir, "documents")
    toks = (docs.select(
                "source",
                F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                 .alias("w"))
            .where(F.col("w") != ""))
    md5c = F.md5(F.col("w"))
    bucket = F.conv(F.substring(md5c, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(md5c, 3, 12), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(49).cast("long")) \
           .otherwise(F.lit(49) - F.length(F.bin(v))).cast("long")
    per_src = (toks.select("source", bucket.alias("bucket"),
                           rho.alias("rho"))
               .groupBy("source", "bucket").agg(F.max("rho").alias("m_j")))
    merged = per_src.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    direct = (toks.select(bucket.alias("bucket"), rho.alias("rho"))
              .groupBy("bucket").agg(F.max("rho").alias("m_j")))

    def estimate(regs):
        sums = regs.agg(
            F.count(F.lit(1)).alias("ub"),
            F.sum(F.expr(f"{TWO49}L div shiftleft(1L, cast(m_j as int))"))
             .alias("sp"))
        raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
               f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}L), 0)")
        lc = (f"round({HLL_M} * ln({HLL_M} / cast({HLL_M} - ub as double)),"
              " 0)")
        return sums.select(F.expr(
            f"cast(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
            f" THEN {lc} ELSE {raw} END as bigint)").alias("est"))

    est_m = estimate(merged).withColumnRenamed("est", "est_merged")
    est_d = estimate(direct).withColumnRenamed("est", "est_direct")
    # register-level equality via symmetric anti-join counts
    a = merged.withColumnRenamed("m_j", "ma")
    b = direct.withColumnRenamed("m_j", "mb")
    mismatch = (a.join(b, "bucket", "full_outer")
                .where((F.col("ma").isNull()) | (F.col("mb").isNull())
                       | (F.col("ma") != F.col("mb")))
                .agg(F.count(F.lit(1)).alias("n_reg_mismatch")))
    naive = (per_src.groupBy("source").agg(
                F.count(F.lit(1)).alias("ub"),
                F.sum(F.expr(f"{TWO49}L div shiftleft(1L,"
                             " cast(m_j as int))")).alias("sp")))
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}L), 0)")
    lc = f"round({HLL_M} * ln({HLL_M} / cast({HLL_M} - ub as double)), 0)"
    naive_sum = naive.select(F.expr(
        f"cast(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
        f" THEN {lc} ELSE {raw} END as bigint)").alias("e")) \
        .agg(F.sum("e").alias("naive_source_sum"))
    n_src = per_src.agg(F.countDistinct("source").alias("n_sources"))
    return (n_src.crossJoin(F.broadcast(est_m))
            .crossJoin(F.broadcast(est_d))
            .crossJoin(F.broadcast(mismatch))
            .crossJoin(F.broadcast(naive_sum))
            .select(F.col("n_sources").cast("int").alias("n_sources"),
                    "est_merged", "est_direct",
                    (F.col("n_reg_mismatch") == 0).cast("int")
                    .alias("registers_match"),
                    F.col("naive_source_sum").cast("long")
                     .alias("naive_source_sum")))


def _hll_merge_sql() -> str:
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}), 0)")
    lc = f"round({HLL_M} * ln({HLL_M} / CAST({HLL_M} - ub AS DOUBLE)), 0)"
    est = (f"CAST(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
           f" THEN {lc} ELSE {raw} END AS BIGINT)")
    return rf"""
WITH toks AS (
    SELECT source, w
    FROM (SELECT source,
                 unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
          FROM documents)
    WHERE w <> ''
),
regs AS (
    SELECT source,
           CAST('0x' || substr(md5(w), 1, 2) AS BIGINT) AS bucket,
           max(CASE WHEN CAST('0x' || substr(md5(w), 3, 12) AS BIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(CAST('0x' || substr(md5(w), 3, 12)
                                              AS BIGINT)))
               END) AS m_j
    FROM toks GROUP BY 1, 2
),
merged AS (SELECT bucket, max(m_j) AS m_j FROM regs GROUP BY bucket),
direct AS (
    SELECT CAST('0x' || substr(md5(w), 1, 2) AS BIGINT) AS bucket,
           max(CASE WHEN CAST('0x' || substr(md5(w), 3, 12) AS BIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(CAST('0x' || substr(md5(w), 3, 12)
                                              AS BIGINT)))
               END) AS m_j
    FROM toks GROUP BY 1
),
em AS (
    SELECT {est} AS est_merged
    FROM (SELECT count(*) AS ub,
                 CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                      AS BIGINT) AS sp
          FROM merged)
),
ed AS (
    SELECT {est} AS est_direct
    FROM (SELECT count(*) AS ub,
                 CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                      AS BIGINT) AS sp
          FROM direct)
),
mm AS (
    SELECT count(*) AS n_reg_mismatch
    FROM merged m FULL OUTER JOIN direct d ON m.bucket = d.bucket
    WHERE m.m_j IS NULL OR d.m_j IS NULL OR m.m_j <> d.m_j
),
naive AS (
    SELECT CAST(sum(e) AS BIGINT) AS naive_source_sum
    FROM (SELECT {est.replace("est_merged", "e")} AS e
          FROM (SELECT source, count(*) AS ub,
                       CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                            AS BIGINT) AS sp
                FROM regs GROUP BY source))
),
ns AS (SELECT count(DISTINCT source) AS n_sources FROM regs)
SELECT CAST(n_sources AS INT) AS n_sources, est_merged, est_direct,
       CAST(n_reg_mismatch = 0 AS INT) AS registers_match,
       naive_source_sum
FROM ns CROSS JOIN em CROSS JOIN ed CROSS JOIN mm CROSS JOIN naive
"""


QUERIES["hll_merge_check"] = (hll_merge_check, _hll_merge_sql())


# --------------------------------------------------------------------------
# Bloom semi-join reduction: runtime-filter effectiveness, measured
# --------------------------------------------------------------------------
def bloom_semijoin_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-filter join story, quantified end-to-end: a Bloom
    filter built over a SELECTIVE order subset (top-priority urgent
    orders) pre-filters lineitem BEFORE its join shuffle; the exact
    semi-join beside it measures what the filter let through. One row:
    probe size, bloom survivors, true matches, false-pass count/rate,
    and the shuffle-reduction factor — the number a planner needs to
    decide whether the filter pays for itself (Spark's own
    bloom-pruning makes this same bet on statistics; here it's
    measured on data).

    Scale: the build side aggregates to a ~1 KB word table
    (broadcast); the probe is scan-fused (survivors counted without
    any join); only the exact branch — the assertion — shuffles.
    """
    orders = load(spark, sf_dir, "orders")
    build = (orders.where(F.col("o_orderpriority") == "1-URGENT")
             .select("o_orderkey"))
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    bits = None
    for salt in BF_SALTS:
        b = build.select(
            F.pmod(_h48(F.col("o_orderkey").cast("string"), salt),
                   F.lit(BF_M)).alias("h"))
        bits = b if bits is None else bits.unionAll(b)
    words = (bits.select(F.expr(f"h div {BF_BITS_PER_WORD}").alias("w"),
                         F.expr(f"shiftleft(1L, cast(h % {BF_BITS_PER_WORD}"
                                " as int))").alias("mask"))
             .groupBy("w").agg(F.bit_or("mask").alias("word")))
    probe_bits = None
    for j, salt in enumerate(BF_SALTS):
        p = li.select(F.col("l_orderkey").alias("pid"),
                      F.pmod(_h48(F.col("l_orderkey").cast("string"), salt),
                             F.lit(BF_M)).alias("h"))
        probe_bits = p if probe_bits is None else probe_bits.unionAll(p)
    checked = (probe_bits
               .select("pid", F.expr(f"h div {BF_BITS_PER_WORD}").alias("w"),
                       F.expr(f"cast(h % {BF_BITS_PER_WORD} as int)")
                       .alias("bit"))
               .join(F.broadcast(words), "w", "left")
               .select("pid",
                       F.when(F.col("word").isNull(), F.lit(0))
                        .otherwise(F.expr("cast((shiftright(word, bit) % 2)"
                                          " as int)")).alias("hit")))
    # NOTE: pid repeats across lineitems sharing an order — keep row
    # granularity (the shuffle the filter would avoid is per ROW)
    survivors = (checked.groupBy("pid").agg(F.min("hit").alias("all_set"))
                 .where(F.col("all_set") == 1)
                 .join(li.select(F.col("l_orderkey").alias("pid")), "pid"))
    n_pass = survivors.agg(
        F.count(F.lit(1)).alias("n_bloom_pass"))
    n_probe = li.agg(F.count(F.lit(1)).alias("n_probe_rows"))
    exact = (li.join(build.withColumnRenamed("o_orderkey", "l_orderkey"),
                     "l_orderkey", "left_semi")
             .agg(F.count(F.lit(1)).alias("n_true_match")))
    return (n_probe.crossJoin(F.broadcast(n_pass))
            .crossJoin(F.broadcast(exact))
            .select("n_probe_rows", "n_bloom_pass", "n_true_match",
                    (F.col("n_bloom_pass") - F.col("n_true_match"))
                    .alias("n_false_pass"),
                    F.round((F.col("n_bloom_pass") - F.col("n_true_match"))
                            / F.col("n_probe_rows"), 4)
                     .alias("false_pass_rate"),
                    F.round(F.col("n_probe_rows")
                            / F.col("n_bloom_pass"), 2)
                     .alias("shuffle_reduction_x")))


def _bloom_semijoin_sql() -> str:
    def h(salt, key):
        return (f"CAST('0x' || substr(md5('{salt}' || CAST({key} AS "
                f"VARCHAR)), 1, 12) AS BIGINT) % {BF_M}")

    bit_parts = " UNION ALL ".join(
        f"SELECT {h(salt, 'o_orderkey')} AS h FROM build"
        for salt in BF_SALTS)
    probe_parts = " UNION ALL ".join(
        f"SELECT l_orderkey AS pid, {h(salt, 'l_orderkey')} AS h"
        " FROM (SELECT DISTINCT l_orderkey FROM lineitem)"
        for salt in BF_SALTS)
    return f"""
WITH build AS (
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
bits AS ({bit_parts}),
words AS (
    SELECT h // {BF_BITS_PER_WORD} AS w,
           bit_or(1::BIGINT << CAST(h % {BF_BITS_PER_WORD} AS INT)) AS word
    FROM bits GROUP BY 1
),
pb AS ({probe_parts}),
keys_checked AS (
    SELECT pid, min(CASE WHEN word IS NULL THEN 0
                ELSE CAST((word >> CAST(h % {BF_BITS_PER_WORD} AS INT)) % 2
                          AS INT) END) AS all_set
    FROM pb LEFT JOIN words ON words.w = pb.h // {BF_BITS_PER_WORD}
    GROUP BY pid
),
survivors AS (
    SELECT count(*) AS n_bloom_pass
    FROM lineitem l JOIN keys_checked k
      ON k.pid = l.l_orderkey AND k.all_set = 1
),
np AS (SELECT count(*) AS n_probe_rows FROM lineitem),
ex AS (
    SELECT count(*) AS n_true_match FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM build)
)
SELECT n_probe_rows, n_bloom_pass, n_true_match,
       n_bloom_pass - n_true_match AS n_false_pass,
       round((n_bloom_pass - n_true_match) / n_probe_rows, 4)
           AS false_pass_rate,
       round(n_probe_rows / n_bloom_pass, 2) AS shuffle_reduction_x
FROM np CROSS JOIN survivors CROSS JOIN ex
"""


QUERIES["bloom_semijoin_reduction"] = (bloom_semijoin_reduction,
                                       _bloom_semijoin_sql())


# --------------------------------------------------------------------------
# misra_gries_heavy_hitters: mergeable per-shard top-M frequency summaries
# --------------------------------------------------------------------------

_MG_SHARDS = 8       # summary shards (executors at production shape)
_MG_KEEP = 64        # keys kept per shard summary
_MG_TOPK = 20        # merged heavy hitters reported


def misra_gries_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitter summaries (the Misra–Gries / SpaceSaving
    shape): each of ``_MG_SHARDS`` shards reduces its slice of the
    lineitem part stream to an exact per-key count, keeps only its top
    ``_MG_KEEP`` keys, and records a one-integer error bound — the
    largest DROPPED count (any key absent from the shard summary has a
    shard count ≤ that bound). Merging is pure addition: for key k,
    ``lo = Σ kept counts`` and ``hi = lo + Σ err_s`` over the shards
    where k was dropped, so a key's true global count is provably in
    [lo, hi]. Against the driver tables we also compute the EXACT
    count next to the bounds (the ``ann_recall_eval`` pattern), and
    ``within_bounds`` asserts the sketch guarantee inside the query.
    Unlike CMS (`cms_heavy_hitters`) this summary stores exact keys —
    no hash collisions — and its merge law is what a 1000-executor
    treeAggregate would run.

    Scale: one map-side-combinable count per (shard, key), one
    window rank per shard over summary-sized data; merged state is
    ``shards × keep`` rows regardless of corpus size. The exact-count
    branch exists only for the oracle gate; at 100 TB you'd drop it.
    Everything is int64; no floats anywhere.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_partkey", (F.col("l_orderkey") % _MG_SHARDS).alias("s"))
    shard_counts = (li.groupBy("s", "l_partkey")
                    .agg(F.count(F.lit(1)).alias("cnt")))
    w = Window.partitionBy("s").orderBy(F.desc("cnt"), F.asc("l_partkey"))
    ranked = shard_counts.withColumn("r", F.row_number().over(w))
    kept = ranked.filter(F.col("r") <= _MG_KEEP)
    err = (ranked.filter(F.col("r") > _MG_KEEP)
           .groupBy("s").agg(F.max("cnt").alias("err")))
    shard_err = (ranked.select("s").distinct()
                 .join(err, "s", "left")
                 .select("s", F.coalesce("err", F.lit(0)).alias("err")))
    toterr = F.broadcast(shard_err.agg(
        F.sum("err").cast("long").alias("toterr")))
    merged = (kept.join(shard_err, "s")
              .groupBy("l_partkey")
              .agg(F.sum("cnt").alias("est_lo"),
                   F.sum("err").cast("long").alias("present_err")))
    exact = (li.groupBy("l_partkey")
             .agg(F.count(F.lit(1)).alias("exact_cnt")))
    wk = Window.orderBy(F.desc("est_lo"), F.asc("l_partkey"))
    out = (merged.crossJoin(toterr)
           .select("l_partkey", "est_lo",
                   (F.col("est_lo") + F.col("toterr")
                    - F.col("present_err")).alias("est_hi"))
           .withColumn("rk", F.row_number().over(wk))
           .filter(F.col("rk") <= _MG_TOPK).drop("rk")
           .join(exact, "l_partkey")
           .select("l_partkey", "est_lo", "est_hi", "exact_cnt",
                   ((F.col("exact_cnt") >= F.col("est_lo"))
                    & (F.col("exact_cnt") <= F.col("est_hi")))
                   .alias("within_bounds")))
    return out


_MG_SQL = f"""
WITH li AS (
  SELECT l_partkey, l_orderkey % {_MG_SHARDS} AS s FROM lineitem
), shard_counts AS (
  SELECT s, l_partkey, CAST(count(*) AS BIGINT) AS cnt
  FROM li GROUP BY s, l_partkey
), ranked AS (
  SELECT s, l_partkey, cnt,
         row_number() OVER (PARTITION BY s
                            ORDER BY cnt DESC, l_partkey ASC) AS r
  FROM shard_counts
), kept AS (
  SELECT * FROM ranked WHERE r <= {_MG_KEEP}
), shard_err AS (
  SELECT d.s, CAST(coalesce(e.err, 0) AS BIGINT) AS err
  FROM (SELECT DISTINCT s FROM ranked) d
  LEFT JOIN (SELECT s, max(cnt) AS err FROM ranked
             WHERE r > {_MG_KEEP} GROUP BY s) e ON d.s = e.s
), toterr AS (
  SELECT CAST(sum(err) AS BIGINT) AS toterr FROM shard_err
), merged AS (
  SELECT k.l_partkey, CAST(sum(k.cnt) AS BIGINT) AS est_lo,
         CAST(sum(se.err) AS BIGINT) AS present_err
  FROM kept k JOIN shard_err se ON k.s = se.s
  GROUP BY k.l_partkey
), exact AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM li GROUP BY l_partkey
), topk AS (
  SELECT l_partkey, est_lo, est_lo + t.toterr - present_err AS est_hi,
         row_number() OVER (ORDER BY est_lo DESC, l_partkey ASC) AS rk
  FROM merged CROSS JOIN toterr t
)
SELECT tk.l_partkey, tk.est_lo, tk.est_hi, ex.exact_cnt,
       ex.exact_cnt >= tk.est_lo AND ex.exact_cnt <= tk.est_hi
           AS within_bounds
FROM topk tk JOIN exact ex ON tk.l_partkey = ex.l_partkey
WHERE tk.rk <= {_MG_TOPK}
"""

QUERIES["misra_gries_heavy_hitters"] = (misra_gries_heavy_hitters, _MG_SQL)


# --------------------------------------------------------------------------
# AMS F2 sketch (tug-of-war): second frequency moment / self-join size
# --------------------------------------------------------------------------

AMS_S = 16   # estimators: 4 groups x 4 for median-of-means


def ams_f2_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alon-Matias-Szegedy "tug-of-war" sketch of the second frequency
    moment F2 = Σ_x f_x² of the events-per-user stream — F2 IS the
    self-join size on user_id, the quantity a join-size estimator
    needs before picking a strategy (cf. join_size_estimation_audit,
    which uses exact per-key counts; AMS answers the same question in
    O(S) integer cells with no per-key state at all).

    S=16 sign estimators: sign_s(x) = 1 − 2·(first md5 nibble of
    ``ams{s}:x`` mod 2), Z_s = Σ_x f_x·sign_s(x), E[Z²] = F2. Reported
    as the estimator mean ``floor(Σ Z²/S)`` and the median-of-4-means
    ``floor((g2+g3)/8)`` over 4 group sums (the heavy-tail-robust
    combination the paper prescribes), next to the exact F2 and the
    mean's relative error — so the oracle gate continuously asserts
    the sketch MATH, not just determinism.

    Determinism: signs, Z, Z², group sums, and both estimates are
    exact int64 end-to-end (the module's md5 idiom, identical in both
    engines); medians come from array_sort/list_sort element access.
    int64 headroom: |Z_s| ≤ N events, Z² ≤ N² — exact to N ≈ 3e9 rows;
    past that shard the stream and merge sketches (Z adds).

    Scale: ONE scan of the raw stream into a user-keyed count (map-
    side combinable), then S sign-weighted sums over the per-key frame
    in a single aggregate — no explode, no per-estimator scan, final
    state is S integers. Exact F2 rides the same per-key frame.
    """
    ev = load(spark, sf_dir, "events")
    freq = (ev.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("f")))
    nib = [F.conv(F.substring(F.md5(F.concat(F.lit(f"ams{s}:"),
                                             F.col("user_id"))), 1, 1),
                  16, 10).cast("long") for s in range(AMS_S)]
    zs = freq.agg(
        F.sum(F.col("f") * F.col("f")).alias("exact_f2"),
        F.sum("f").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        *[F.sum(F.col("f") * (1 - 2 * (nib[s] % 2))).alias(f"z{s}")
          for s in range(AMS_S)])
    z2 = zs.select(
        "exact_f2", "n_rows", "n_keys",
        F.array(*[(F.col(f"z{s}") * F.col(f"z{s}")).cast("long")
                  for s in range(AMS_S)]).alias("z2"))
    gsum = ("array_sort(transform(sequence(0, 3), "
            "g -> z2[4*g] + z2[4*g+1] + z2[4*g+2] + z2[4*g+3]))")
    return z2.select(
        "n_rows", "n_keys", "exact_f2",
        F.expr(f"aggregate(z2, cast(0 as bigint), (a, b) -> a + b)"
               f" div {AMS_S}").alias("est_mean"),
        F.expr(f"(({gsum})[1] + ({gsum})[2]) div 8").alias("est_mom"),
        F.expr(f"abs(aggregate(z2, cast(0 as bigint), (a, b) -> a + b)"
               f" div {AMS_S} - exact_f2) * 1000000 div exact_f2")
        .alias("rel_err_mean_e6"))


def _ams_sql() -> str:
    def sign(s: int) -> str:
        return (f"(1 - 2 * (CAST('0x' || substr(md5('ams{s}:'"
                f" || user_id), 1, 1) AS BIGINT) % 2))")

    zcols = ",\n         ".join(
        f"CAST(sum(f * {sign(s)}) AS BIGINT) AS z{s}" for s in range(AMS_S))
    z2list = ", ".join(f"z{s} * z{s}" for s in range(AMS_S))
    return f"""
WITH freq AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS f
  FROM events GROUP BY user_id
),
zs AS (
  SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2,
         CAST(sum(f) AS BIGINT) AS n_rows,
         CAST(count(*) AS BIGINT) AS n_keys,
         {zcols}
  FROM freq
),
z2 AS (
  SELECT exact_f2, n_rows, n_keys, [{z2list}] AS z2 FROM zs
),
grouped AS (
  SELECT exact_f2, n_rows, n_keys, z2,
         list_sort(list_transform(range(0, 4),
           g -> z2[4*g + 1] + z2[4*g + 2] + z2[4*g + 3] + z2[4*g + 4]))
             AS gs
  FROM z2
)
SELECT n_rows, n_keys, exact_f2,
       list_reduce(list_prepend(CAST(0 AS BIGINT), z2),
                   (a, b) -> a + b) // {AMS_S} AS est_mean,
       (gs[2] + gs[3]) // 8 AS est_mom,
       abs(list_reduce(list_prepend(CAST(0 AS BIGINT), z2),
                       (a, b) -> a + b) // {AMS_S} - exact_f2)
           * 1000000 // exact_f2 AS rel_err_mean_e6
FROM grouped
"""


QUERIES["ams_f2_sketch"] = (ams_f2_sketch, _ams_sql())

# --------------------------------------------------------------------------
# hll_cube_rollup: distinct users by any dimension slice via register merges
# --------------------------------------------------------------------------

def hll_cube_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-CUBE pattern that makes "distinct users by any
    slice" answerable at 100 TB without rescans: one scan builds HLL
    registers per finest cell (dow × event_type); every coarser node
    — per-dow, per-type, grand total — comes from register max-merges
    of the CELL table (35 rows), never from the events again. Each
    node reports the HLL estimate NEXT TO the exact distinct (from a
    single GROUPING SETS pass over the same scan) and the relative
    error — the audit that justifies replacing exact count-distinct
    cubes with mergeable sketches.

    Determinism: registers are integer (md5-derived rho); estimates
    round through the shared HLL formula (identical expression both
    engines); dow derives from integer epoch arithmetic (engine
    dayofweek conventions disagree, CLAUDE.md).

    Scale: the events table is scanned twice (register build + exact
    GROUPING SETS — the exact side exists only for the audit; a
    production rollup keeps just the first scan). All merge algebra
    runs on |cells|·256 register rows.
    """
    ev = load(spark, sf_dir, "events")
    md5c = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(md5c, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(md5c, 3, 12), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(49).cast("long")) \
           .otherwise(F.lit(49) - F.length(F.bin(v))).cast("long")
    dow = ((F.expr("unix_micros(cast(ts as timestamp))"
                   " div 86400000000") + 4) % 7)
    base = ev.select(dow.alias("dow"), F.col("event_type").alias("et"),
                     "user_id", bucket.alias("bucket"), rho.alias("rho"))
    cells = persist(base.groupBy("dow", "et", "bucket")
                    .agg(F.max("rho").alias("m_j")))

    def est(regs, keys):
        sums = regs.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("ub"),
            F.sum(F.expr(f"{TWO49}L div shiftleft(1L, cast(m_j as int))"))
             .alias("sp"))
        raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
               f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}L), 0)")
        lc = (f"round({HLL_M} * ln({HLL_M} /"
              f" cast({HLL_M} - ub as double)), 0)")
        return sums.select(*keys, F.expr(
            f"cast(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
            f" THEN {lc} ELSE {raw} END as bigint)").alias("est"))

    by_dow = (cells.groupBy("dow", "bucket").agg(F.max("m_j").alias("m_j")))
    by_et = (cells.groupBy("et", "bucket").agg(F.max("m_j").alias("m_j")))
    total = cells.groupBy("bucket").agg(F.max("m_j").alias("m_j"))
    e_dow = est(by_dow, ["dow"]).select(
        F.lit("dow").alias("node_kind"),
        F.col("dow").cast("string").alias("node_key"), "est")
    e_et = est(by_et, ["et"]).select(
        F.lit("event_type").alias("node_kind"),
        F.col("et").alias("node_key"), "est")
    e_tot = (est(total.withColumn("g", F.lit(1)), ["g"])
             .select(F.lit("total").alias("node_kind"),
                     F.lit("*").alias("node_key"), "est"))
    ests = e_dow.unionByName(e_et).unionByName(e_tot)
    exact = (base.cube("dow", "et")
             .agg(F.countDistinct("user_id").alias("exact_n"))
             .where(F.col("dow").isNull() | F.col("et").isNull())
             .select(
                 F.expr("CASE WHEN dow IS NULL AND et IS NULL THEN 'total'"
                        " WHEN et IS NULL THEN 'dow'"
                        " ELSE 'event_type' END").alias("node_kind"),
                 F.coalesce(F.col("et"),
                            F.col("dow").cast("string"),
                            F.lit("*")).alias("node_key"),
                 "exact_n"))
    return (ests.join(exact, ["node_kind", "node_key"])
            .select("node_kind", "node_key", "est", "exact_n",
                    F.expr("1000000 * abs(est - exact_n) div exact_n")
                    .alias("rel_err_e6")))


def _hll_cube_sql() -> str:
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}), 0)")
    lc = f"round({HLL_M} * ln({HLL_M} / CAST({HLL_M} - ub AS DOUBLE)), 0)"
    est = (f"CAST(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
           f" THEN {lc} ELSE {raw} END AS BIGINT)")
    return f"""
WITH base AS (
  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
         event_type AS et, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
              AS BIGINT) AS bucket,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12)
                        AS BIGINT) = 0 THEN 49
              ELSE 49 - length(bin(CAST('0x' ||
                   substr(md5(CAST(user_id AS VARCHAR)), 3, 12) AS BIGINT)))
         END AS rho
  FROM events
),
cells AS (
  SELECT dow, et, bucket, max(rho) AS m_j FROM base GROUP BY 1, 2, 3
),
e_dow AS (
  SELECT 'dow' AS node_kind, CAST(dow AS VARCHAR) AS node_key, {est} AS est
  FROM (SELECT dow, count(*) AS ub,
               CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                    AS BIGINT) AS sp
        FROM (SELECT dow, bucket, max(m_j) AS m_j FROM cells GROUP BY 1, 2)
        GROUP BY dow)
),
e_et AS (
  SELECT 'event_type' AS node_kind, et AS node_key, {est} AS est
  FROM (SELECT et, count(*) AS ub,
               CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                    AS BIGINT) AS sp
        FROM (SELECT et, bucket, max(m_j) AS m_j FROM cells GROUP BY 1, 2)
        GROUP BY et)
),
e_tot AS (
  SELECT 'total' AS node_kind, '*' AS node_key, {est} AS est
  FROM (SELECT count(*) AS ub,
               CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                    AS BIGINT) AS sp
        FROM (SELECT bucket, max(m_j) AS m_j FROM cells GROUP BY 1))
),
ests AS (SELECT * FROM e_dow UNION ALL SELECT * FROM e_et
         UNION ALL SELECT * FROM e_tot),
exact AS (
  SELECT CASE WHEN dow IS NULL AND et IS NULL THEN 'total'
              WHEN et IS NULL THEN 'dow' ELSE 'event_type' END AS node_kind,
         coalesce(et, CAST(dow AS VARCHAR), '*') AS node_key,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n
  FROM base
  GROUP BY CUBE (dow, et)
  HAVING dow IS NULL OR et IS NULL
)
SELECT e.node_kind, e.node_key, e.est, x.exact_n,
       1000000 * abs(e.est - x.exact_n) // x.exact_n AS rel_err_e6
FROM ests e JOIN exact x
  ON e.node_kind = x.node_kind AND e.node_key = x.node_key
"""


QUERIES["hll_cube_rollup"] = (hll_cube_rollup, _hll_cube_sql())

# --------------------------------------------------------------------------
# hll_rolling_distinct: sliding-window distinct users via day-sketch merges
# --------------------------------------------------------------------------

def hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day from DAY-LEVEL HLL
    registers — the sliding-window twin of hll_cube_rollup and the
    sketch answer to rolling_active_users: the exact version re-pays
    a 7-day self-join of raw events per day; this merges 7×256
    register rows per day no matter how many raw events a day holds
    (the bounded-state shape a 100 TB WAU dashboard needs). The exact
    rolling distinct is computed alongside (range-join audit) with
    the relative error.

    Determinism: integer registers, shared estimate expression, day
    from integer epoch; the day spine derives from observed min/max.

    Scale: one scan to day-registers (map-side max); the window
    merge joins the |days|·256 register table to a |days| spine —
    events are never touched again. The exact audit column is the
    only part that re-joins raw data; production keeps the sketch.
    """
    ev = load(spark, sf_dir, "events")
    md5c = F.md5(F.col("user_id").cast("string"))
    bucket = F.conv(F.substring(md5c, 1, 2), 16, 10).cast("long")
    v = F.conv(F.substring(md5c, 3, 12), 16, 10).cast("long")
    rho = F.when(v == 0, F.lit(49).cast("long")) \
           .otherwise(F.lit(49) - F.length(F.bin(v))).cast("long")
    day = F.expr("unix_micros(cast(ts as timestamp)) div 86400000000")
    base = ev.select(day.alias("day"), "user_id",
                     bucket.alias("bucket"), rho.alias("rho"))
    regs = persist(base.groupBy("day", "bucket")
                   .agg(F.max("rho").alias("m_j")))
    days = regs.select("day").distinct()
    win = (days.alias("d")
           .join(regs.alias("r"),
                 (F.col("r.day") <= F.col("d.day"))
                 & (F.col("r.day") >= F.col("d.day") - 6))
           .groupBy(F.col("d.day").alias("day"), "bucket")
           .agg(F.max("m_j").alias("m_j")))
    sums = win.groupBy("day").agg(
        F.count(F.lit(1)).alias("ub"),
        F.sum(F.expr(f"{TWO49}L div shiftleft(1L, cast(m_j as int))"))
         .alias("sp"))
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}L), 0)")
    lc = f"round({HLL_M} * ln({HLL_M} / cast({HLL_M} - ub as double)), 0)"
    ests = sums.select("day", F.expr(
        f"cast(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
        f" THEN {lc} ELSE {raw} END as bigint)").alias("est"))
    du = base.select("day", "user_id").distinct()
    exact = (days.alias("d")
             .join(du.alias("u"),
                   (F.col("u.day") <= F.col("d.day"))
                   & (F.col("u.day") >= F.col("d.day") - 6))
             .groupBy(F.col("d.day").alias("day"))
             .agg(F.countDistinct("user_id").alias("exact_n")))
    return (ests.join(exact, "day")
            .select("day", "est", "exact_n",
                    F.expr("1000000 * abs(est - exact_n) div exact_n")
                    .alias("rel_err_e6")))


def _hll_rolling_sql() -> str:
    raw = (f"round((0.7213 / (1 + 1.079 / 256.0)) * {HLL_M} * {HLL_M}"
           f" * {TWO49} / (sp + ({HLL_M} - ub) * {TWO49}), 0)")
    lc = f"round({HLL_M} * ln({HLL_M} / CAST({HLL_M} - ub AS DOUBLE)), 0)"
    est = (f"CAST(CASE WHEN {raw} <= 2.5 * {HLL_M} AND ub < {HLL_M}"
           f" THEN {lc} ELSE {raw} END AS BIGINT)")
    return f"""
WITH base AS (
  SELECT epoch_us(ts) // 86400000000 AS day, user_id,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
              AS BIGINT) AS bucket,
         CASE WHEN CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 3, 12)
                        AS BIGINT) = 0 THEN 49
              ELSE 49 - length(bin(CAST('0x' ||
                   substr(md5(CAST(user_id AS VARCHAR)), 3, 12) AS BIGINT)))
         END AS rho
  FROM events
),
regs AS (SELECT day, bucket, max(rho) AS m_j FROM base GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM regs),
win AS (
  SELECT d.day, r.bucket, max(r.m_j) AS m_j
  FROM days d JOIN regs r
    ON r.day <= d.day AND r.day >= d.day - 6
  GROUP BY 1, 2
),
ests AS (
  SELECT day, {est} AS est
  FROM (SELECT day, count(*) AS ub,
               CAST(sum({TWO49} // (1::BIGINT << CAST(m_j AS INT)))
                    AS BIGINT) AS sp
        FROM win GROUP BY day)
),
du AS (SELECT DISTINCT day, user_id FROM base),
exact AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_n
  FROM days d JOIN du u ON u.day <= d.day AND u.day >= d.day - 6
  GROUP BY d.day
)
SELECT e.day, e.est, x.exact_n,
       1000000 * abs(e.est - x.exact_n) // x.exact_n AS rel_err_e6
FROM ests e JOIN exact x ON e.day = x.day
"""


QUERIES["hll_rolling_distinct"] = (hll_rolling_distinct, _hll_rolling_sql())


# --------------------------------------------------------------------------
# Count-Sketch point estimates (signed-median cousin of Count-Min)
# --------------------------------------------------------------------------
CS_W = 256                                        # buckets per row
CS_SALTS = ("cs0:", "cs1:", "cs2:", "cs3:", "cs4:")   # d = 5 rows
CS_SIGN_SALT = "css:"


def _cs_sign(col, salt_prefix: str):
    """±1 sign from an md5 hash INDEPENDENT of the bucket hash (own
    salt family): parity of the 48-bit integer."""
    return (F.lit(1) - 2 * F.pmod(_h48(col, CS_SIGN_SALT + salt_prefix),
                                  F.lit(2))).cast("long")


def countsketch_point_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Sketch (d=5 × w=256, signed counters) frequency estimates
    for the exact top-20 shingles — the UNBIASED cousin of
    ``cms_heavy_hitters``: collisions add signed noise that the
    median-of-rows estimate cancels, instead of Count-Min's one-sided
    overestimate. The estimate per probe is the exact integer median
    of 5 signed cell reads (sorted-array middle element — no
    engine-default median function).

    Scale: identical shape to the CMS twin — the sketch is a d·w =
    1280-cell signed-counter matrix from ONE map-side-combinable
    aggregation (the only state a 100 TB pass carries), probes are a
    TakeOrdered candidate set broadcast-joined against it. Everything
    is exact int64; no floats anywhere.
    """
    docs = load(spark, sf_dir, "documents")
    # persisted: tc feeds one signed-cell branch per sketch row plus
    # the exact top-N probe (the cms_heavy_hitters reasoning)
    tc = persist(_tokens(docs)
                 .select(F.unhex(F.md5("gram")).alias("gk"), "gram")
                 .groupBy("gk")
                 .agg(F.count(F.lit(1)).alias("exact_count"),
                      F.min("gram").alias("gram"))
                 .select("gram", "exact_count"))
    cells = None
    for row, salt in enumerate(CS_SALTS):
        part = tc.select(
            F.lit(row).alias("row"),
            F.pmod(_h48(F.col("gram"), salt), F.lit(CS_W)).alias("col"),
            (_cs_sign(F.col("gram"), salt) * F.col("exact_count"))
            .alias("signed"))
        cells = part if cells is None else cells.unionAll(part)
    sketch = cells.groupBy("row", "col").agg(
        F.sum("signed").alias("cell"))
    top = (tc.orderBy(F.desc("exact_count"), F.asc("gram")).limit(TOPN)
           .select("gram", "exact_count"))
    probes = None
    for row, salt in enumerate(CS_SALTS):
        p = top.select(
            "gram", "exact_count", F.lit(row).alias("row"),
            F.pmod(_h48(F.col("gram"), salt), F.lit(CS_W)).alias("col"),
            _cs_sign(F.col("gram"), salt).alias("sign"))
        probes = p if probes is None else probes.unionAll(p)
    return (probes.join(F.broadcast(sketch), ["row", "col"])
            .groupBy("gram", "exact_count")
            .agg(F.element_at(
                F.array_sort(F.collect_list(F.col("sign") * F.col("cell"))),
                3).alias("est_count"))
            .select("gram", "exact_count", "est_count",
                    (F.col("est_count") - F.col("exact_count"))
                    .alias("bias"))
            .orderBy(F.desc("exact_count"), F.asc("gram")))


def _cs_sql() -> str:
    def h(salt: str, expr: str = "gram") -> str:
        return (f"CAST('0x' || substr(md5('{salt}' || {expr}), 1, 12)"
                f" AS BIGINT) % {CS_W}")

    def s(salt: str, expr: str = "gram") -> str:
        return (f"(1 - 2 * (CAST('0x' || substr(md5('{CS_SIGN_SALT}{salt}'"
                f" || {expr}), 1, 12) AS BIGINT) % 2))")

    cell_parts = " UNION ALL ".join(
        f"SELECT {row} AS row, {h(salt)} AS col,"
        f" {s(salt)} * exact_count AS signed FROM tc"
        for row, salt in enumerate(CS_SALTS))
    probe_parts = " UNION ALL ".join(
        f"SELECT gram, exact_count, {row} AS row, {h(salt)} AS col,"
        f" {s(salt)} AS sign FROM top"
        for row, salt in enumerate(CS_SALTS))
    return f"""
WITH {_TOKS_SQL},
tc AS (SELECT min(gram) AS gram, count(*) AS exact_count
       FROM terms GROUP BY unhex(md5(gram))),
cells AS ({cell_parts}),
sketch AS (SELECT row, col, CAST(sum(signed) AS BIGINT) AS cell
           FROM cells GROUP BY row, col),
top AS (SELECT gram, exact_count FROM tc
        ORDER BY exact_count DESC, gram LIMIT {TOPN}),
probes AS ({probe_parts})
SELECT gram, exact_count,
       (list(sign * cell ORDER BY sign * cell))[3] AS est_count,
       (list(sign * cell ORDER BY sign * cell))[3] - exact_count AS bias
FROM probes JOIN sketch USING (row, col)
GROUP BY gram, exact_count
ORDER BY exact_count DESC, gram
"""


QUERIES["countsketch_point_estimate"] = (countsketch_point_estimate,
                                         _cs_sql())
