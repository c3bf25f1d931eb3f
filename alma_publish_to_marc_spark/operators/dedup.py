"""Deduplication operators for training-data pipelines.

Four families, all DataFrame-native, no Python UDFs:

- exact_dedup      : hash-groupBy on content (one shuffle on the text key)
- jaccard_pairs    : exact n-gram Jaccard via shingle-join (candidate
                     pairs only materialize where a shingle is shared)
- minhash_lsh      : MinHash signatures + banded LSH bucketing; candidate
                     pairs verified with exact Jaccard
- simhash          : bitwise-majority token-hash signature per document

Scale notes (100 TB):
- exact dedup shuffles a 16-byte `unhex(md5(text))` content key, never
  the text itself; DuckDB's md5 matches Spark's, so the oracle groups
  on the identical key and parity stays exact.
- shingle-join cost is Σ_docs(shingles); the `max_tokens` prefix cap
  bounds it per document. Popular shingles (boilerplate) explode the
  join — `max_shingle_freq` drops shingles shared by more than N docs,
  the standard stop-shingle mitigation, before the pair join.
- MinHash/LSH replaces the all-pairs comparison with band-bucket
  grouping: cost is #docs × #perms plus bucket-local pairs. Permutation
  constants are fixed literals so results are reproducible and
  oracle-checkable (portable poly hash, not xxhash64).
"""

from __future__ import annotations

import random
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import HASH_MOD, poly_hash, word_shingles
from ..tables import persist

# Fixed MinHash permutation constants (seed 42), shared with the DuckDB
# oracle generators — regenerate only in lockstep with minhash_perm_sql().
_rng = random.Random(42)
N_PERMS = 16
PERM_A: Sequence[int] = [_rng.randrange(1, HASH_MOD) for _ in range(N_PERMS)]
PERM_B: Sequence[int] = [_rng.randrange(0, HASH_MOD) for _ in range(N_PERMS)]
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS

SIMHASH_BITS = 32


def exact_dedup(df: DataFrame, id_col: str, text_col: str,
                keep_text: bool = False) -> DataFrame:
    """Representative (min id) + multiplicity per distinct content.

    The shuffle key is ``unhex(md5(text))`` — 16 fixed bytes — not the
    document text, so at 100 TB the aggregation exchange moves
    ~32 bytes/row regardless of document size. md5 is collision-safe at
    any realistic corpus cardinality and computes identically in DuckDB
    (``unhex(md5(..))``), so the oracle groups on the very same key.
    With ``keep_text`` the representative's text is joined back by id
    AFTER the aggregate — only surviving representatives carry text
    through that join, never the pre-dedup corpus.
    """
    key = F.unhex(F.md5(F.col(text_col))).alias("_content_key")
    reps = (df.select(key, F.col(id_col))
            .groupBy("_content_key")
            .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
            .select(id_col, "n_copies"))
    if not keep_text:
        return reps
    return (reps.join(df.select(id_col, text_col), id_col)
            .select(id_col, "n_copies", text_col))


def shingle_hashes(text_col: Column, n: int = 5,
                   max_tokens: int | None = None) -> Column:
    """Distinct shingles → portable hashes (array<long>).

    NOTE a two-level variant (hash tokens once, fold token hashes per
    gram) looks asymptotically better but is a trap in expression land:
    the token-hash array is a sub-expression of the per-gram lambda, and
    Catalyst inlines (not CSEs) lambda sub-expressions, so it recomputes
    per gram — measured 3× slower at sf0.1. The flat form hashes each
    gram string once."""
    return F.transform(word_shingles(text_col, n, max_tokens),
                       lambda s: poly_hash(s))


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int,
                       max_tokens: int | None,
                       max_shingle_freq: int | None) -> DataFrame:
    sh = df.select(
        F.col(id_col),
        F.explode(shingle_hashes(F.col(text_col), n, max_tokens)).alias("shingle"),
    )
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_freq"))
        sh = (sh.join(freq, "shingle")
                .where(F.col("_freq") <= max_shingle_freq).drop("_freq"))
    return sh


def jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                  n: int = 5, threshold: float = 0.5,
                  max_tokens: int | None = None,
                  max_shingle_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard for every pair sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 6
    (rounded AFTER thresholding comparisons use the same rounded value,
    keeping cross-engine comparisons deterministic)."""
    sh = _exploded_shingles(df, id_col, text_col, n, max_tokens, max_shingle_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (inter
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("n_shingles").alias("size_a")), "id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"),
                              F.col("n_shingles").alias("size_b")), "id_b")
           .withColumn("jaccard", F.round(
               F.col("n_inter")
               / (F.col("size_a") + F.col("size_b") - F.col("n_inter")), 6)))
    return (out.where(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard"))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 5, threshold: float = 0.9,
                      max_tokens: int | None = None,
                      max_shingle_freq: int | None = None) -> DataFrame:
    """ASYMMETRIC shingle containment: c(A→B) = |A∩B| / |A|. Catches
    the duplication Jaccard structurally misses — a snippet wholly
    quoted inside a longer document has containment ≈ 1.0 from the
    snippet's side but Jaccard ≈ |snippet|/|doc| (arbitrarily small).
    This is the subset/quote/wrapper dedup signal (Lee et al. §4 use
    exactly this to catch partial duplication).

    Returns (id_a, id_b, containment_a_in_b, containment_b_in_a) with
    id_a < id_b, kept when EITHER direction reaches ``threshold``.
    Same shuffle profile as :func:`jaccard_pairs` (shared-shingle
    candidate join over stop-shingle-capped hashes); at 100 TB the
    candidate set is gated by the same LSH banding before this exact
    verify runs."""
    sh = _exploded_shingles(df, id_col, text_col, n, max_tokens,
                            max_shingle_freq)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .where(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("n_inter")))
    out = (inter
           .join(sizes.select(F.col(id_col).alias("id_a"),
                              F.col("n_shingles").alias("size_a")), "id_a")
           .join(sizes.select(F.col(id_col).alias("id_b"),
                              F.col("n_shingles").alias("size_b")), "id_b")
           .select("id_a", "id_b",
                   F.round(F.col("n_inter") / F.col("size_a"), 6)
                    .alias("containment_a_in_b"),
                   F.round(F.col("n_inter") / F.col("size_b"), 6)
                    .alias("containment_b_in_a")))
    return out.where(F.greatest("containment_a_in_b",
                                "containment_b_in_a") >= threshold)


def _signature_sql(hashes_sql: str) -> str:
    """The N_PERMS-slot minhash signature as ONE Spark-SQL expression
    string (16 perms through the Python column API are ~200 py4j round
    trips per call — the r11 lsh_bucket finding; one F.expr parse is
    milliseconds). ``hashes_sql`` is the column name / SQL fragment of
    the array<long> shingle hashes."""
    mins = [
        f"coalesce(array_min(transform({hashes_sql}, "
        f"x -> ({PERM_A[j]}L * x + {PERM_B[j]}L) % {HASH_MOD}L)), "
        f"{HASH_MOD}L)"
        for j in range(N_PERMS)
    ]
    return "array(" + ", ".join(mins) + ")"


def signature_from_hashes(hashes: Column | str) -> Column:
    """array<long> of N_PERMS minhash values from an array of shingle
    hashes; empty-shingle docs get HASH_MOD (sentinel larger than any
    real hash) in every slot. Pass the column NAME (preferred — one
    expr parse); a Column operand takes the legacy per-perm build."""
    if isinstance(hashes, str):
        return F.expr(_signature_sql(hashes))

    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(HASH_MOD)

    mins = [
        F.coalesce(
            F.array_min(F.transform(hashes, perm(PERM_A[j], PERM_B[j]))),
            F.lit(HASH_MOD),
        )
        for j in range(N_PERMS)
    ]
    return F.array(*mins)


def minhash_signature(text_col: Column, n: int = 5,
                      max_tokens: int | None = None) -> Column:
    return signature_from_hashes(shingle_hashes(text_col, n, max_tokens))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 5, threshold: float = 0.25,
                      max_tokens: int | None = None) -> DataFrame:
    """Banded-LSH candidate generation + exact-Jaccard verification.

    Two docs collide if any band (ROWS_PER_BAND consecutive sig values)
    matches exactly; collisions are then verified against the real
    shingle sets. Output: (id_a, id_b, jaccard)."""
    # hash shingles ONCE per doc (persisted in _sigs_and_bands because
    # both the banding branch and the verify branch consume them —
    # without it the text is re-shingled and re-hashed per branch, 2×
    # the dominant cost)
    sigs, bands = _sigs_and_bands(df, id_col, text_col, n, max_tokens)
    return lsh_pairs_from(sigs, bands, id_col, threshold)


def lsh_pairs_from(sigs: DataFrame, bands: DataFrame, id_col: str,
                   threshold: float) -> DataFrame:
    """Banded-LSH pair generation + exact-Jaccard verification over
    PRE-COMPUTED (sigs, bands) from :func:`_sigs_and_bands` — callers
    that already hold the signature frames (streaming curate_batch
    computes them for the corpus-index probe) reuse them here instead
    of paying the shingling + signature folds a second time."""
    a = bands.select(F.col(id_col).alias("id_a"), "band_id", "band_key")
    b = bands.select(F.col(id_col).alias("id_b"), "band_id", "band_key")
    cand = (a.join(b, ["band_id", "band_key"])
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b").distinct())

    sh = sigs.select(id_col, "shingles")
    verified = (cand
        .join(sh.select(F.col(id_col).alias("id_a"),
                        F.col("shingles").alias("sh_a")), "id_a")
        .join(sh.select(F.col(id_col).alias("id_b"),
                        F.col("shingles").alias("sh_b")), "id_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")), 6)))
    return (verified.where(F.col("jaccard") >= threshold)
                    .select("id_a", "id_b", "jaccard"))


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = SIMHASH_BITS) -> DataFrame:
    """Bitwise-majority signature over token hashes (multiset semantics —
    repeated tokens vote repeatedly). Implemented as explode → one
    aggregation with `bits` conditional sums: partial aggregation happens
    map-side, so the shuffle carries `bits` longs per doc, not tokens."""
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", poly_hash(F.col("tok")))
    # per-bit vote sums and the signature reassembly as expr strings —
    # ~450 py4j round trips through the column API at bits=32 (the r11
    # construction-cost finding); values unchanged (same int CASE sums)
    votes = [
        F.expr(f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1"
               f" THEN 1 ELSE -1 END) AS v{i}")
        for i in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*votes)
    sig = " + ".join(
        f"CASE WHEN v{i} > 0 THEN {2 ** i}L ELSE 0L END"
        for i in range(bits))
    return agg.select(id_col, F.expr(sig).alias("simhash"))


SIMHASH_BANDS = 4                      # 4 bands x 8 bits over 32-bit sigs
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 6) -> DataFrame:
    """SimHash near-dup PAIRS — the retrieval half the fingerprint
    alone lacks: candidates are pairs whose 32-bit signatures agree on
    at least one 8-bit band (pigeonhole: any pair within Hamming
    distance < SIMHASH_BANDS*? — concretely, distance ≤ 3 ALWAYS shares
    a band; larger distances are caught probabilistically), verified by
    exact popcount of the XOR.

    Scale: the signature table is #docs rows of (id, long); the band
    self-join groups on an 8-bit band value + band index (the classic
    Charikar blocking), so candidate volume is bucket-local, and the
    verify is a scan-side bit_count — no text ever reshuffles. Raise
    SIMHASH_BITS/SIMHASH_BANDS together at corpus scale to keep band
    buckets bounded."""
    sigs = simhash(df, id_col, text_col)
    bands = sigs.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("simhash"), b * SIMHASH_BAND_BITS)
                 .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                 .alias("band_val"))
            for b in range(SIMHASH_BANDS)])).alias("bb")) \
        .select(id_col, "simhash",
                F.col("bb.band_id").alias("band_id"),
                F.col("bb.band_val").alias("band_val"))
    a = bands.select(F.col(id_col).alias("id_a"),
                     F.col("simhash").alias("sig_a"),
                     "band_id", "band_val")
    b = bands.select(F.col(id_col).alias("id_b"),
                     F.col("simhash").alias("sig_b"),
                     "band_id", "band_val")
    cand = (a.join(b, ["band_id", "band_val"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sig_a", "sig_b")
            .distinct())
    ham = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (cand.select("id_a", "id_b",
                        ham.cast("int").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def _sigs_and_bands(df: DataFrame, id_col: str, text_col: str,
                    n: int, max_tokens: int | None):
    """(sigs, bands) pair for banded MinHash: sigs carries the shingle
    hashes + signature per doc (persisted MEMORY_AND_DISK — both the
    banding and verification branches consume it; tracked by
    :func:`tables.persist`), bands is the exploded
    (id, band_id, band_key) table."""
    sigs = persist(
        df.select(
            F.col(id_col),
            shingle_hashes(F.col(text_col), n, max_tokens).alias("shingles"))
        .withColumn("sig", signature_from_hashes("shingles")))
    # band table as one expr parse (same construction economics as the
    # signature above); concat_ws('_', bigint...) casts implicitly in
    # both the column API and SQL — identical band keys
    band_structs = ", ".join(
        f"named_struct('band_id', {b}, 'band_key', concat_ws('_', "
        + ", ".join(f"element_at(sig, {b * ROWS_PER_BAND + r + 1})"
                    for r in range(ROWS_PER_BAND)) + "))"
        for b in range(N_BANDS))
    bands = sigs.select(
        id_col,
        F.expr(f"explode(array({band_structs}))").alias("band"),
    ).select(id_col, "band.band_id", "band.band_key")
    return sigs, bands


def incremental_minhash_pairs(corpus: DataFrame, arrivals: DataFrame,
                              id_col: str, text_col: str,
                              n: int = 5, threshold: float = 0.5,
                              max_tokens: int | None = None) -> DataFrame:
    """Dedup an ARRIVING batch against the standing corpus — the
    incremental-ingest shape: no corpus×corpus pair is ever considered,
    only (new, corpus) collisions. Output (new_id, corpus_id, jaccard).

    Scale: the corpus signature/band tables are computed once here; in
    a deployment they are the PERSISTED dedup index (band table bucketed
    by band_key), so each batch costs one scan of the batch plus a join
    that touches corpus rows only where bands collide. The batch band
    table is batch-sized → broadcast, and the corpus side never
    reshuffles. Within-batch duplicates are a separate (cheap)
    ``minhash_lsh_pairs`` call on the batch alone.
    """
    c_sigs, c_bands = _sigs_and_bands(corpus, id_col, text_col, n, max_tokens)
    a_sigs, a_bands = _sigs_and_bands(arrivals, id_col, text_col, n, max_tokens)
    cand = (c_bands
            .join(F.broadcast(a_bands.select(
                F.col(id_col).alias("new_id"), "band_id", "band_key")),
                ["band_id", "band_key"])
            .select(F.col("new_id"), F.col(id_col).alias("corpus_id"))
            .distinct())
    verified = (cand
        .join(a_sigs.select(F.col(id_col).alias("new_id"),
                            F.col("shingles").alias("sh_a")), "new_id")
        .join(c_sigs.select(F.col(id_col).alias("corpus_id"),
                            F.col("shingles").alias("sh_b")), "corpus_id")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(
            F.col("n_inter")
            / (F.size("sh_a") + F.size("sh_b") - F.col("n_inter")), 6)))
    return (verified.where(F.col("jaccard") >= threshold)
                    .select("new_id", "corpus_id", "jaccard"))
