"""Oracle-checked dedup queries over `documents`.

The corpus is augmented in-query with deterministic duplicates (exact
copies, near-dup variants with an appended tail) so the operators have
real work at every scale factor; the DuckDB oracle builds the identical
corpus. MinHash permutation constants come from operators/dedup.py and
are injected into the generated SQL, so Spark and DuckDB compute the
same signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load, persist
from . import dedup as D

NEAR_DUP_TAIL = "synthetic near dup tail"


# ---- SQL fragment generators (lockstep with functions/text.py hashes) ----
def sql_toks(text: str = "text") -> str:
    return rf"regexp_split_to_array(trim({text}), '\s+')"


def sql_poly(s: str) -> str:
    return ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(string_split({s}, ''), c -> CAST(ord(c) AS BIGINT))), "
            "(a, b) -> (a * 31 + b) % 1000000007)")


def sql_shingle_hashes(text: str = "text", n: int = 5) -> str:
    toks = sql_toks(text)
    grams = (f"list_distinct(list_transform("
             f"range(1, greatest(len({toks}) - {n - 1}, 0) + 1), "
             f"i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' ')))")
    return f"list_transform({grams}, g -> {sql_poly('g')})"


# Synthetic-copy ids are offset by max(doc_id)+1 — NOT a fixed constant —
# so they can never alias a real corpus id at any scale factor (a fixed
# +100000 collides once `documents` reaches 100k rows). Both engines
# compute the identical data-derived offset, keeping parity exact; the
# one-row aggregate broadcasts, so the corpus never reshuffles for it.
SQL_ID_OFFSET = "(SELECT max(doc_id) + 1 FROM documents)"

SQL_NEAR_CORPUS = f"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {SQL_ID_OFFSET} AS doc_id,
           text || ' {NEAR_DUP_TAIL}' AS text
    FROM documents WHERE doc_id % 5 = 0
)
"""

SQL_EXACT_CORPUS = f"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + {SQL_ID_OFFSET} AS doc_id, text
    FROM documents WHERE doc_id % 7 = 0
)
"""


def _id_offset(docs: DataFrame) -> DataFrame:
    """One-row (broadcast) frame holding max(doc_id)+1."""
    return F.broadcast(docs.agg((F.max("doc_id") + F.lit(1)).alias("_id_off")))


def _near_dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    variants = (docs.where(F.col("doc_id") % 5 == 0)
                .crossJoin(_id_offset(docs))
                .select((F.col("doc_id") + F.col("_id_off")).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" " + NEAR_DUP_TAIL))
                         .alias("text")))
    return docs.unionByName(variants)


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    copies = (docs.where(F.col("doc_id") % 7 == 0)
              .crossJoin(_id_offset(docs))
              .select((F.col("doc_id") + F.col("_id_off")).alias("doc_id"),
                      "text"))
    return docs.unionByName(copies)


# ---- exact dedup ----------------------------------------------------------
def _exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_exact_corpus(spark, sf_dir), "doc_id", "text")


_EXACT_SQL = f"""
WITH {SQL_EXACT_CORPUS}
SELECT min(doc_id) AS doc_id, count(*) AS n_copies
FROM corpus GROUP BY unhex(md5(text))
"""


# ---- exact n-gram Jaccard pairs -------------------------------------------
def _ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_pairs(_near_dup_corpus(spark, sf_dir),
                           "doc_id", "text", n=5, threshold=0.5)


_NGRAM_SQL = f"""
WITH {SQL_NEAR_CORPUS},
sh AS (
    SELECT doc_id, unnest({sql_shingle_hashes()}) AS shingle FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6) >= 0.5
"""


# ---- asymmetric containment (snippet/subset duplication) ------------------
SNIPPET_WORDS = 15


def _snippet_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus with planted SNIPPETS: the first 15 words of every 4th
    long document, under new ids — near-subsets of their sources
    (containment ≈ 1.0 from the snippet side, Jaccard small)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    w = F.split(F.trim("text"), r"\s+")
    snips = (docs.where((F.col("doc_id") % 4 == 0) & (F.size(w) >= 30))
             .crossJoin(_id_offset(docs))
             .select((F.col("doc_id") + F.col("_id_off")).alias("doc_id"),
                     F.array_join(F.slice(w, 1, SNIPPET_WORDS), " ")
                      .alias("text")))
    return docs.unionByName(snips)


def _containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.containment_pairs(_snippet_corpus(spark, sf_dir),
                               "doc_id", "text", n=5, threshold=0.9)


_SNIPPET_CORPUS_SQL = rf"""corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
           array_to_string(
               (regexp_split_to_array(trim(text), '\s+'))[1 : {SNIPPET_WORDS}],
               ' ') AS text
    FROM documents
    WHERE doc_id % 4 = 0
      AND len(regexp_split_to_array(trim(text), '\s+')) >= 30
)"""

_CONTAINMENT_SQL = f"""
WITH {_SNIPPET_CORPUS_SQL},
sh AS (
    SELECT doc_id, unnest({sql_shingle_hashes()}) AS shingle FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_inter / sa.n_shingles, 6) AS containment_a_in_b,
       round(n_inter / sb.n_shingles, 6) AS containment_b_in_a
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE greatest(round(n_inter / sa.n_shingles, 6),
               round(n_inter / sb.n_shingles, 6)) >= 0.9
"""


# ---- train/test leakage audit ---------------------------------------------
def _split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene audit: near-duplicate pairs that CROSS dataset
    splits. A test doc with a near-dup in train is leaked evaluation —
    the check every training run should gate on after splitting
    (dedup-then-split is the fix; this measures how much you need it).

    Composes the stable hash split of ``dataset_split`` (membership is
    a pure function of doc_id, so no join is needed — the split is
    computed directly on each pair's endpoint ids) with the exact
    Jaccard pair generation. Output: pair counts per unordered split
    combination with a crosses_split flag; the leakage number is the
    sum of crossing rows."""
    from ..functions.text_queries import _SPLIT_MOD, _SPLIT_MULT

    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = D.jaccard_pairs(corpus, "doc_id", "text", n=5, threshold=0.5)

    def split_of(col):
        b = ((col % _SPLIT_MOD) * _SPLIT_MULT) % _SPLIT_MOD % 100
        return (F.when(b < 80, "train")
                .when(b < 90, "validation")
                .otherwise("test"))

    sa, sb = split_of(F.col("id_a")), split_of(F.col("id_b"))
    return (pairs
            .select(F.least(sa, sb).alias("split_a"),
                    F.greatest(sa, sb).alias("split_b"))
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .withColumn("crosses_split",
                        F.col("split_a") != F.col("split_b")))


def _split_leakage_sql() -> str:
    from ..functions.text_queries import _SPLIT_MOD, _SPLIT_MULT

    split_of = (
        "CASE WHEN (({c} % {m}) * {k}) % {m} % 100 < 80 THEN 'train' "
        "WHEN (({c} % {m}) * {k}) % {m} % 100 < 90 THEN 'validation' "
        "ELSE 'test' END")
    sa = split_of.format(c="id_a", m=_SPLIT_MOD, k=_SPLIT_MULT)
    sb = split_of.format(c="id_b", m=_SPLIT_MOD, k=_SPLIT_MULT)
    return f"""
WITH {SQL_NEAR_CORPUS},
sh AS (
    SELECT doc_id, unnest({sql_shingle_hashes()}) AS shingle FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6)
          >= 0.5
),
tagged AS (
    SELECT least({sa}, {sb}) AS split_a,
           greatest({sa}, {sb}) AS split_b
    FROM pairs
)
SELECT split_a, split_b, count(*) AS n_pairs,
       split_a <> split_b AS crosses_split
FROM tagged GROUP BY split_a, split_b
"""


# ---- cross-source duplication matrix ---------------------------------------
def _cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE duplication comes from: near-dup pairs (exact Jaccard over
    the real corpus, no planting) tagged with each endpoint's source
    and aggregated per unordered source pair — the governance matrix
    that tells a curation team which feeds mirror each other (licensing
    reviews and crawl-dedup priorities key on exactly this).

    Scale: the pair table is the jaccard_pairs candidate join; the
    source tags are two broadcastable joins against (doc_id, source)
    projections, and the matrix is |sources|² rows max."""
    docs = load(spark, sf_dir, "documents")
    pairs = D.jaccard_pairs(docs.select("doc_id", "text"),
                            "doc_id", "text", n=5, threshold=0.5)
    src = docs.select("doc_id", "source")
    tagged = (pairs
              .join(src.select(F.col("doc_id").alias("id_a"),
                               F.col("source").alias("src_a")), "id_a")
              .join(src.select(F.col("doc_id").alias("id_b"),
                               F.col("source").alias("src_b")), "id_b"))
    return (tagged
            .select(F.least("src_a", "src_b").alias("source_a"),
                    F.greatest("src_a", "src_b").alias("source_b"),
                    "jaccard")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.round(F.avg("jaccard"), 4).alias("avg_jaccard"))
            .withColumn("cross_source",
                        F.col("source_a") != F.col("source_b")))


_CROSS_SOURCE_SQL = f"""
WITH sh AS (
    SELECT doc_id, unnest({sql_shingle_hashes()}) AS shingle FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b,
           round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6)
          >= 0.5
),
tagged AS (
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           p.jaccard
    FROM pairs p
    JOIN documents da ON da.doc_id = p.id_a
    JOIN documents db ON db.doc_id = p.id_b
)
SELECT source_a, source_b, count(*) AS n_pairs,
       round(avg(jaccard), 4) AS avg_jaccard,
       source_a <> source_b AS cross_source
FROM tagged GROUP BY source_a, source_b
"""


# ---- MinHash + LSH ---------------------------------------------------------
def _minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_pairs(_near_dup_corpus(spark, sf_dir),
                               "doc_id", "text", n=5, threshold=0.5)


def minhash_pairs_cte() -> str:
    """The MinHash+LSH pair computation as a reusable WITH-body ending
    in ``pairs(id_a, id_b, jaccard)`` — shared by the standalone query
    and the end-to-end dedup pipeline (operators/graph_queries.py)."""
    p = D.HASH_MOD
    sig_cols = ", ".join(
        f"coalesce(list_min(list_transform(hashes, "
        f"h -> ({D.PERM_A[j]} * h + {D.PERM_B[j]}) % {p})), {p}) AS s{j}"
        for j in range(D.N_PERMS)
    )
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '_' || ".join(
            f"CAST(s{b * D.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(D.ROWS_PER_BAND))
        + " AS band_key FROM sigs"
        for b in range(D.N_BANDS)
    )
    return f"""
{SQL_NEAR_CORPUS},
hashed AS (
    SELECT doc_id, {sql_shingle_hashes()} AS hashes FROM corpus
),
sigs AS (SELECT doc_id, hashes, {sig_cols} FROM hashed),
bands AS ({band_selects}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
),
verified AS (
    SELECT id_a, id_b,
           len(list_intersect(ha.hashes, hb.hashes)) AS n_inter,
           len(ha.hashes) AS size_a, len(hb.hashes) AS size_b
    FROM cand
    JOIN hashed ha ON ha.doc_id = id_a
    JOIN hashed hb ON hb.doc_id = id_b
),
pairs AS (
    SELECT id_a, id_b,
           round(n_inter / (size_a + size_b - n_inter), 6) AS jaccard
    FROM verified
    WHERE round(n_inter / (size_a + size_b - n_inter), 6) >= 0.5
)"""


def _minhash_sql() -> str:
    return f"WITH {minhash_pairs_cte()}\nSELECT id_a, id_b, jaccard FROM pairs"


# ---- SimHash ----------------------------------------------------------------
def _simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return D.simhash(docs, "doc_id", "text")


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(D.SIMHASH_BITS))
    assemble = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(D.SIMHASH_BITS))
    return f"""
WITH tok AS (
    SELECT doc_id, unnest({sql_toks()}) AS tok FROM documents
),
h AS (SELECT doc_id, {sql_poly('tok')} AS h FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, {assemble} AS simhash FROM v
"""


SIMHASH_QUERY_HAMMING = 0


def _simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs over the near-dup-augmented corpus at Hamming budget 0.

    Measured on this corpus: every planted tail variant lands at
    distance 0 from its source (the variant flips no majority votes),
    while the synthetic 31-word vocabulary compresses the whole
    spectrum (already ~6k background pairs at distance ≤2) — so 0 is
    the only discriminating budget here. Real corpora spread signatures
    far wider; the library default (≤6 of 32 bits) is the conventional
    production budget."""
    return D.simhash_pairs(_near_dup_corpus(spark, sf_dir),
                           "doc_id", "text",
                           max_hamming=SIMHASH_QUERY_HAMMING)


def _simhash_pairs_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(D.SIMHASH_BITS))
    assemble = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({2 ** i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(D.SIMHASH_BITS))
    mask = (1 << D.SIMHASH_BAND_BITS) - 1
    bands_union = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"(simhash >> {b * D.SIMHASH_BAND_BITS}) & {mask} AS band_val "
        f"FROM sigs"
        for b in range(D.SIMHASH_BANDS))
    return f"""
WITH {SQL_NEAR_CORPUS},
tok AS (
    SELECT doc_id, unnest({sql_toks()}) AS tok FROM corpus
),
h AS (SELECT doc_id, {sql_poly('tok')} AS h FROM tok),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id),
sigs AS (SELECT doc_id, {assemble} AS simhash FROM v),
bands AS ({bands_union}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {SIMHASH_QUERY_HAMMING}
"""


def _incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arriving batch = the synthetic tail-variants of every 5th doc;
    standing corpus = the documents table. Cross (new, corpus)
    near-dups only — the incremental-ingest dedup shape."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    arrivals = (docs.where(F.col("doc_id") % 5 == 0)
                .crossJoin(_id_offset(docs))
                .select((F.col("doc_id") + F.col("_id_off")).alias("doc_id"),
                        F.concat(F.col("text"),
                                 F.lit(" " + NEAR_DUP_TAIL)).alias("text")))
    return D.incremental_minhash_pairs(docs, arrivals, "doc_id", "text",
                                       n=5, threshold=0.5)


def _incremental_sql() -> str:
    p = D.HASH_MOD

    def sig_cols():
        return ", ".join(
            f"coalesce(list_min(list_transform(hashes, "
            f"h -> ({D.PERM_A[j]} * h + {D.PERM_B[j]}) % {p})), {p}) AS s{j}"
            for j in range(D.N_PERMS))

    def band_selects(src: str) -> str:
        return " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            + " || '_' || ".join(
                f"CAST(s{b * D.ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(D.ROWS_PER_BAND))
            + f" AS band_key FROM {src}"
            for b in range(D.N_BANDS))

    return f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
arrivals AS (
    SELECT doc_id + {SQL_ID_OFFSET} AS doc_id,
           text || ' {NEAR_DUP_TAIL}' AS text
    FROM documents WHERE doc_id % 5 = 0
),
hashed_c AS (SELECT doc_id, {sql_shingle_hashes()} AS hashes FROM corpus),
hashed_a AS (SELECT doc_id, {sql_shingle_hashes()} AS hashes FROM arrivals),
sigs_c AS (SELECT doc_id, hashes, {sig_cols()} FROM hashed_c),
sigs_a AS (SELECT doc_id, hashes, {sig_cols()} FROM hashed_a),
bands_c AS ({band_selects('sigs_c')}),
bands_a AS ({band_selects('sigs_a')}),
cand AS (
    SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS corpus_id
    FROM bands_a a JOIN bands_c c
      ON a.band_id = c.band_id AND a.band_key = c.band_key
),
verified AS (
    SELECT new_id, corpus_id,
           len(list_intersect(ha.hashes, hb.hashes)) AS n_inter,
           len(ha.hashes) AS size_a, len(hb.hashes) AS size_b
    FROM cand
    JOIN hashed_a ha ON ha.doc_id = new_id
    JOIN hashed_c hb ON hb.doc_id = corpus_id
)
SELECT new_id, corpus_id,
       round(n_inter / (size_a + size_b - n_inter), 6) AS jaccard
FROM verified
WHERE round(n_inter / (size_a + size_b - n_inter), 6) >= 0.5
"""


QUERIES = {
    "exact_dedup": (_exact_dedup, _EXACT_SQL),
    "containment_neardup": (_containment, _CONTAINMENT_SQL),
    "split_leakage_check": (_split_leakage, _split_leakage_sql()),
    "cross_source_dup_matrix": (_cross_source_dups, _CROSS_SOURCE_SQL),
    "ngram_jaccard_neardup": (_ngram_jaccard, _NGRAM_SQL),
    "minhash_lsh_neardup": (_minhash_lsh, _minhash_sql()),
    "simhash_fingerprint": (_simhash, _simhash_sql()),
    "simhash_neardup": (_simhash_pairs, _simhash_pairs_sql()),
    "incremental_neardup": (_incremental, _incremental_sql()),
}


# --------------------------------------------------------------------------
# cdc_chunk_dedup: content-defined chunking (Rabin-style) dedup stats
# --------------------------------------------------------------------------
CDC_WIN = 8        # rolling window the boundary hash sees
CDC_MASK = 64      # boundary when hash % 64 == 0 -> ~64-char chunks


def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking, the storage-dedup counterpart of the
    shingle family: chunk boundaries fall where the rolling hash of
    the trailing 8-char window is ≡ 0 (mod 64), so a one-character
    edit only re-chunks its neighborhood — unlike fixed windows
    (``doc_chunking``) where an insertion shifts EVERY downstream
    chunk. Reports corpus-level chunk dedup stats (the dedup a
    CAS/backup layer would achieve).

    Determinism: boundaries hash the trailing window through md5 (the
    cross-engine hash idiom — native in both engines); stats are exact
    counts. Scale: boundary detection is array-side per document
    (narrow, scan-fused — O(len·win) with no shuffle); the only
    exchange is the distinct on 16-byte chunk hashes.
    """
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # boundary hash = md5 of the trailing window (native JVM function;
    # the earlier per-position 8-step interpreted poly fold measured
    # ~4x slower end-to-end at 10x corpus in tools/scale_probe.py)
    poly = ("cast(conv(substr(md5(substring(text, i - 7, 8)), 1, 4),"
            " 16, 10) as bigint)")
    chunks = docs.select(
        "doc_id",
        F.expr(f"""
          filter(
            zip_with(
              transform(concat(array(0),
                        filter(sequence(8, length(text)),
                               i -> {poly} % {CDC_MASK} = 0)),
                        x -> x + 1),
              concat(filter(sequence(8, length(text)),
                            i -> {poly} % {CDC_MASK} = 0),
                     array(length(text))),
              (s, e) -> struct(s as s, e as e)),
            p -> p.e >= p.s)
        """).alias("bounds"))
    ex = (chunks.join(docs, "doc_id")
          .select("doc_id", F.explode("bounds").alias("b"), "text")
          .select("doc_id",
                  F.expr("md5(substring(text, b.s, b.e - b.s + 1))")
                   .alias("h"),
                  (F.col("b.e") - F.col("b.s") + 1).alias("clen")))
    return ex.agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("h").alias("n_distinct_chunks"),
        F.round(F.lit(1.0) - F.countDistinct("h") / F.count(F.lit(1)), 4)
         .alias("dup_chunk_ratio"),
        F.round(F.sum("clen") / F.count(F.lit(1)), 2)
         .alias("avg_chunk_len"),
        F.max("clen").alias("max_chunk_len"))


def _cdc_sql() -> str:
    poly = ("CAST('0x' || substr(md5(substr(text, i - 7, 8)), 1, 4)"
            " AS BIGINT)")
    b = (f"list_filter(range(8, length(text) + 1),"
         f" i -> {poly} % {CDC_MASK} = 0)")
    return f"""
WITH bounds AS (
    SELECT doc_id, text,
           list_transform(list_prepend(0, {b}), x -> x + 1) AS starts,
           list_append({b}, length(text)) AS ends
    FROM documents
),
chunks AS (
    SELECT doc_id,
           md5(substr(text, starts[i], ends[i] - starts[i] + 1)) AS h,
           ends[i] - starts[i] + 1 AS clen
    FROM bounds, unnest(range(1, len(starts) + 1)) AS t(i)
    WHERE ends[i] >= starts[i]
)
SELECT count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_chunks,
       count(DISTINCT h) AS n_distinct_chunks,
       round(1.0 - count(DISTINCT h) / count(*), 4) AS dup_chunk_ratio,
       round(sum(clen) / count(*), 2) AS avg_chunk_len,
       CAST(max(clen) AS BIGINT) AS max_chunk_len
FROM chunks
"""


QUERIES["cdc_chunk_dedup"] = (cdc_chunk_dedup, _cdc_sql())


# --------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking (the sort-based alternative to LSH)
# --------------------------------------------------------------------------
SN_WINDOW = 3          # compare each doc to its next 3 sort neighbors
SN_KEY_LEN = 40        # sort key: first 40 chars


def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood method: sort the corpus by a blocking key
    (text prefix) and compare each record only to its next
    ``SN_WINDOW`` neighbors — entity resolution's classic alternative
    to hash blocking (LSH/buckets): near-identical records sort
    adjacently, so a tiny window finds them with O(N·w) comparisons.
    Candidates then verify with exact prefix edit distance, as in
    ``levenshtein_neardup``.

    Scale: the sweep is PARTITIONED, not a full-corpus global sort
    (VERDICT r06 item 2). The sort key's first character defines a
    deterministic CONTIGUOUS bucket (a lexicographic prefix bucket is
    a key range), so all windows run ``PARTITION BY bkt`` — parallel,
    never ``SinglePartition``, and no rangepartitioning exchange
    either. Pairs that CROSS a bucket boundary are recovered exactly:
    every true cross-bucket neighbor at rank distance ≤ ``SN_WINDOW``
    must sit in its bucket's first/last ``SN_WINDOW`` rows, so those
    edge rows (≤ 2·W per bucket — tiny) get a global rank from
    bucket-size offsets (a broadcast-joined per-bucket count — no
    window) and pair by exact rank distance via a broadcast equi-join
    on rank+d. At 100 TB the bucket prefix just grows (2-3 chars) to
    keep buckets executor-sized; a skew-adaptive variant would sample
    bounds à la repartitionByRange, at the cost of deterministic
    bucket ids.
    """
    from pyspark.sql import Window

    docs = (load(spark, sf_dir, "documents")
            .select("doc_id",
                    F.substring("text", 1, SN_KEY_LEN).alias("sk"),
                    F.substring("text", 1, 80).alias("prefix")))
    # near-dup corpus: planted tail variants sort adjacent to sources
    off = F.broadcast(docs.agg((F.max("doc_id") + 1).alias("_off")))
    corpus = docs.unionByName(
        docs.where(F.col("doc_id") % 5 == 0).crossJoin(off)
        .select((F.col("doc_id") + F.col("_off")).alias("doc_id"),
                "sk", "prefix"))
    corpus = corpus.withColumn("bkt", F.substring("sk", 1, 1))
    wb = Window.partitionBy("bkt").orderBy("sk", "doc_id")
    led = corpus.select(
        "doc_id", "prefix", "bkt",
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("bkt")).alias("bcnt"),
        *[F.lead("doc_id", i).over(wb).alias(f"n{i}_id") for i in
          range(1, SN_WINDOW + 1)],
        *[F.lead("prefix", i).over(wb).alias(f"n{i}_p") for i in
          range(1, SN_WINDOW + 1)])
    # led feeds three branches (pairs, edge rows, bucket sizes) —
    # persist per the multi-branch rule (CLAUDE.md) so the scan +
    # window run once.
    led = persist(led)
    # ONE explode over a neighbor-struct array instead of a W-way
    # union of filtered branches — a union re-runs the scan + window
    # per branch (Spark does not dedupe common subplans).
    nb = F.explode(F.array(*[
        F.struct(F.col(f"n{i}_id").alias("nid"),
                 F.col(f"n{i}_p").alias("np"))
        for i in range(1, SN_WINDOW + 1)])).alias("nb")
    pairs = (led.select("doc_id", "prefix", nb)
             .where(F.col("nb.nid").isNotNull())
             .select(F.least("doc_id", F.col("nb.nid")).alias("id_a"),
                     F.greatest("doc_id", F.col("nb.nid")).alias("id_b"),
                     F.levenshtein("prefix", F.col("nb.np")).cast("int")
                      .alias("edit_distance")))
    # cross-bucket recovery: global rank = bucket offset + in-bucket rn
    sizes = led.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    offs = (sizes.alias("a")
            .join(sizes.alias("b"), F.col("b.bkt") < F.col("a.bkt"), "left")
            .groupBy(F.col("a.bkt").alias("bkt"))
            .agg(F.coalesce(F.sum("b.n"), F.lit(0)).alias("off")))
    edge = (led.where((F.col("rn") <= SN_WINDOW)
                      | (F.col("rn") > F.col("bcnt") - SN_WINDOW))
            .join(F.broadcast(offs), "bkt")
            .select("bkt", "doc_id", "prefix",
                    (F.col("off") + F.col("rn")).alias("grank")))
    dists = F.explode(
        F.array(*[F.lit(i) for i in range(1, SN_WINDOW + 1)])).alias("d")
    cross = (edge.select("bkt", "doc_id", "prefix", "grank", dists)
             .withColumn("tgt", F.col("grank") + F.col("d")).alias("L")
             .join(F.broadcast(edge.alias("R")),
                   (F.col("R.grank") == F.col("L.tgt"))
                   & (F.col("R.bkt") != F.col("L.bkt")))
             .select(F.least("L.doc_id", F.col("R.doc_id")).alias("id_a"),
                     F.greatest("L.doc_id", F.col("R.doc_id")).alias("id_b"),
                     F.levenshtein(F.col("L.prefix"), F.col("R.prefix"))
                      .cast("int").alias("edit_distance")))
    return (pairs.unionAll(cross)
            .where(F.col("edit_distance") <= 5).distinct())


def _sorted_neighborhood_sql() -> str:
    leads = ",\n           ".join(
        f"lead(doc_id, {i}) OVER w AS n{i}_id, "
        f"lead(prefix, {i}) OVER w AS n{i}_p"
        for i in range(1, SN_WINDOW + 1))
    parts = " UNION ALL ".join(f"""
SELECT least(doc_id, n{i}_id) AS id_a, greatest(doc_id, n{i}_id) AS id_b,
       CAST(levenshtein(prefix, n{i}_p) AS INT) AS edit_distance
FROM led WHERE n{i}_id IS NOT NULL""" for i in range(1, SN_WINDOW + 1))
    return f"""
WITH base AS (
    SELECT doc_id, substr(text, 1, {SN_KEY_LEN}) AS sk,
           substr(text, 1, 80) AS prefix
    FROM documents
),
corpus AS (
    SELECT doc_id, sk, prefix FROM base
    UNION ALL
    SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
           sk, prefix
    FROM base WHERE doc_id % 5 = 0
),
led AS (
    SELECT doc_id, prefix,
           {leads}
    FROM corpus
    WINDOW w AS (ORDER BY sk, doc_id)
)
SELECT DISTINCT id_a, id_b, edit_distance
FROM ({parts})
WHERE edit_distance <= 5
"""


QUERIES["sorted_neighborhood_pairs"] = (sorted_neighborhood_pairs,
                                        _sorted_neighborhood_sql())


# ---------------------------------------------------------------------------
# Fellegi–Sunter record-linkage scoring over blocked candidate pairs
# ---------------------------------------------------------------------------
# Fixed integer log-odds weights (scaled ln(m/u) design constants — at
# 100 TB these come from an EM fit, run as the same aggregates).
_FS_W = {
    "src":  (6, -2),   # same source feed
    "len":  (5, -3),   # |n_chars| within 5
    "head": (12, -1),  # identical 16-char text head
    "lang": (3, -4),   # same language tag
}
_FS_MATCH, _FS_POSSIBLE = 18, 8


def _fellegi_sunter_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter linkage scores for sorted-neighborhood candidate
    pairs: each pair gets Σ of integer agreement/disagreement weights
    over four field comparators (source, length proximity, text head,
    language), then the classic three-way classify (match / possible /
    non-match) by fixed thresholds. Output is the score histogram per
    class — the calibration table an ER pipeline reviews before
    committing merges.

    All-integer scoring (scaled log-odds), so classification is exact
    in both engines; the blocking pass is the same single-window
    sorted-neighborhood sweep as ``sorted_neighborhood_pairs`` (no
    self-join).

    Scale: candidates are (window width − 1) per row — linear in the
    corpus; the comparators are cheap column ops on the paired rows
    carried through the window lag, and the histogram is bounded by
    the score range. The EM reweighting step at scale reuses these
    same per-pattern counts. The sweep is PARTITIONED (VERDICT r06
    item 2): ``n_chars div 64`` is a deterministic contiguous bucket
    of the (n_chars, doc_id) sort order, so the lag window runs
    ``PARTITION BY bkt`` (never SinglePartition); each bucket's
    first/last row recovers the one cross-boundary pair per adjacent
    bucket via global ranks from broadcast bucket-size offsets —
    the same edge-row scheme as ``sorted_neighborhood_pairs``."""
    from pyspark.sql import Window

    cols = ("doc_id", "lang", "source", "n_chars", "head")
    docs = (load(spark, sf_dir, "documents")
            .select("doc_id", "lang", "source", "n_chars",
                    F.substring("text", 1, 16).alias("head"))
            .withColumn("bkt", F.expr("n_chars div 64")))
    wb = Window.partitionBy("bkt").orderBy("n_chars", "doc_id")
    lagged = docs.select(
        *cols, "bkt",
        F.row_number().over(wb).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("bkt")).alias("bcnt"),
        *[F.lag(c, 1).over(wb).alias(f"p_{c}") for c in cols])
    within = lagged.where(F.col("p_doc_id").isNotNull())
    # cross-bucket pair recovery (rank distance exactly 1)
    sizes = docs.groupBy("bkt").agg(F.count(F.lit(1)).alias("n"))
    offs = (sizes.alias("a")
            .join(sizes.alias("b"), F.col("b.bkt") < F.col("a.bkt"), "left")
            .groupBy(F.col("a.bkt").alias("bkt"))
            .agg(F.coalesce(F.sum("b.n"), F.lit(0)).alias("off")))
    edge = (lagged.where((F.col("rn") == 1) | (F.col("rn") == F.col("bcnt")))
            .join(F.broadcast(offs), "bkt")
            .select(*cols, F.col("bkt").alias("ebkt"),
                    (F.col("off") + F.col("rn")).alias("grank")))
    cross = (edge.alias("L")
             .join(F.broadcast(edge.alias("R")),
                   (F.col("R.grank") == F.col("L.grank") + 1)
                   & (F.col("R.ebkt") != F.col("L.ebkt")))
             .select(*[F.col(f"R.{c}").alias(c) for c in cols],
                     *[F.col(f"L.{c}").alias(f"p_{c}") for c in cols]))
    pairs = within.select(
        *cols, *[f"p_{c}" for c in cols]).unionAll(cross)

    def cmpw(agree, key):
        m, u = _FS_W[key]
        return F.when(agree, m).otherwise(u)

    score = (cmpw(F.col("source") == F.col("p_source"), "src")
             + cmpw(F.abs(F.col("n_chars") - F.col("p_n_chars")) <= 5, "len")
             + cmpw(F.col("head") == F.col("p_head"), "head")
             + cmpw(F.col("lang") == F.col("p_lang"), "lang"))
    cls = (F.when(score >= _FS_MATCH, "match")
           .when(score >= _FS_POSSIBLE, "possible")
           .otherwise("non_match"))
    return (pairs.select(score.cast("long").alias("score"),
                         cls.alias("link_class"))
            .groupBy("link_class", "score")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def _fs_sql() -> str:
    def w(agree, key):
        m, u = _FS_W[key]
        return f"CASE WHEN {agree} THEN {m} ELSE {u} END"
    score = " + ".join([
        w("source = p_source", "src"),
        w("abs(n_chars - p_n_chars) <= 5", "len"),
        w("head = p_head", "head"),
        w("lang = p_lang", "lang"),
    ])
    return f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars, substr(text, 1, 16) AS head
  FROM documents
), lagged AS (
  SELECT doc_id, lang, source, n_chars, head,
         lag(doc_id)  OVER w AS p_doc_id,
         lag(lang)    OVER w AS p_lang,
         lag(source)  OVER w AS p_source,
         lag(n_chars) OVER w AS p_n_chars,
         lag(head)    OVER w AS p_head
  FROM d WINDOW w AS (ORDER BY n_chars, doc_id)
), scores AS (
  SELECT CAST({score} AS BIGINT) AS score
  FROM lagged WHERE p_doc_id IS NOT NULL
)
SELECT CASE WHEN score >= {_FS_MATCH} THEN 'match'
            WHEN score >= {_FS_POSSIBLE} THEN 'possible'
            ELSE 'non_match' END AS link_class,
       score, CAST(count(*) AS BIGINT) AS n_pairs
FROM scores
GROUP BY 1, 2
"""


QUERIES["fellegi_sunter_scoring"] = (_fellegi_sunter_scoring, _fs_sql())


# ---------------------------------------------------------------------------
# Prefix-filtered EXACT Jaccard similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------
_PF_T_NUM, _PF_T_DEN = 1, 2  # Jaccard threshold t = 1/2


def _prefix_filter_jaccard_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join with prefix filtering (the
    AllPairs/PPJoin candidate rule): order each document's distinct
    tokens by ascending global frequency (rarest first, ids as ties);
    two sets with Jaccard ≥ t MUST share a token within each other's
    first ⌊(1−t)·|d|⌋+1 tokens, so only prefix tokens generate
    candidates — the exact-join alternative to MinHash banding (no
    false negatives, pruning instead of probability).

    Verification is pure integer: |A∩B| from a pair count of shared
    tokens, and Jaccard ≥ 1/2 ⇔ 3·inter ≥ |A|+|B| (cross-multiplied
    through inter/union). Output: qualifying pairs with sizes and the
    e6-floored Jaccard.

    Scale: prefix postings are ~(1−t)-fraction of the token stream and
    bucket by TOKEN — the rare-first ordering makes hot tokens appear
    only in prefixes of very small sets, the property that keeps
    bucket occupancy (and the candidate count) near-linear. The
    verify join ships only (id, size) plus the intersection count."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = (docs.select("doc_id", F.explode(F.array_distinct(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"))).alias("w"))
        .where(F.col("w") != ""))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql import Window
    ranked = (toks.join(F.broadcast(freq), "w")
              .withColumn("r", F.row_number().over(
                  Window.partitionBy("doc_id")
                  .orderBy(F.asc("df"), F.asc("w"))))
              .withColumn("sz", F.count(F.lit(1)).over(
                  Window.partitionBy("doc_id"))))
    # prefix length = floor((1 - t) * sz) + 1 = floor(sz * (den-num)/den) + 1
    # explicit floor in BOTH engines (CLAUDE.md: never CAST a fractional
    # double to int — Spark truncates, DuckDB rounds half-even)
    plen = F.floor(F.col("sz") * (_PF_T_DEN - _PF_T_NUM) / _PF_T_DEN) \
        .cast("long") + 1
    prefix = ranked.where(F.col("r") <= plen).select("doc_id", "w", "sz")
    a = prefix.select(F.col("doc_id").alias("ida"), "w",
                      F.col("sz").alias("sza"))
    b = prefix.select(F.col("doc_id").alias("idb"), "w",
                      F.col("sz").alias("szb"))
    cand = (a.join(b, "w").where(F.col("ida") < F.col("idb"))
            .select("ida", "idb").distinct())
    ta = toks.select(F.col("doc_id").alias("ida"), "w")
    tb = toks.select(F.col("doc_id").alias("idb"), "w")
    inter = (cand.join(ta, "ida").join(tb, ["idb", "w"])
             .groupBy("ida", "idb").agg(F.count(F.lit(1)).alias("inter")))
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    out = (inter
           .join(sizes.select(F.col("doc_id").alias("ida"),
                              F.col("sz").alias("sza")), "ida")
           .join(sizes.select(F.col("doc_id").alias("idb"),
                              F.col("sz").alias("szb")), "idb")
           .where((_PF_T_DEN + _PF_T_NUM) * F.col("inter")
                  >= _PF_T_NUM * (F.col("sza") + F.col("szb"))))
    jac_e6 = F.floor(F.lit(1_000_000) * F.col("inter")
                     / (F.col("sza") + F.col("szb") - F.col("inter"))) \
        .cast("long")
    return out.select("ida", "idb", "inter", "sza", "szb",
                      jac_e6.alias("jaccard_e6"))


def _pf_sql() -> str:
    num, den = _PF_T_NUM, _PF_T_DEN
    return rf"""
WITH toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(regexp_split_to_array(trim(lower(text)),
                                                    '\s+'))) AS w
  FROM documents
), toks_ne AS (SELECT doc_id, w FROM toks WHERE w <> ''),
freq AS (SELECT w, CAST(count(*) AS BIGINT) AS df FROM toks_ne GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.w,
         row_number() OVER (PARTITION BY t.doc_id
                            ORDER BY f.df ASC, t.w ASC) AS r,
         CAST(count(*) OVER (PARTITION BY t.doc_id) AS BIGINT) AS sz
  FROM toks_ne t JOIN freq f ON t.w = f.w
), prefix AS (
  SELECT doc_id, w, sz FROM ranked
  WHERE r <= CAST(floor(sz * {den - num} / {den}) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
  FROM prefix a JOIN prefix b ON a.w = b.w AND a.doc_id < b.doc_id
), inter AS (
  SELECT c.ida, c.idb, CAST(count(*) AS BIGINT) AS inter
  FROM cand c
  JOIN toks_ne ta ON ta.doc_id = c.ida
  JOIN toks_ne tb ON tb.doc_id = c.idb AND tb.w = ta.w
  GROUP BY 1, 2
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM toks_ne GROUP BY 1
)
SELECT i.ida, i.idb, i.inter, sa.sz AS sza, sb.sz AS szb,
       CAST(floor(1000000 * i.inter
                  / CAST(sa.sz + sb.sz - i.inter AS DOUBLE)) AS BIGINT)
           AS jaccard_e6
FROM inter i
JOIN sizes sa ON i.ida = sa.doc_id
JOIN sizes sb ON i.idb = sb.doc_id
WHERE {den + num} * i.inter >= {num} * (sa.sz + sb.sz)
"""


QUERIES["prefix_filter_jaccard_join"] = (_prefix_filter_jaccard_join,
                                         _pf_sql())


# ---- LSH candidate quality --------------------------------------------------
_PREC_T_E6 = 500_000   # jaccard >= 0.5, in e6 fixed point


def _lsh_candidate_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality audit of the banded-MinHash candidate generator on the
    near-dup-augmented corpus: ONE summary row with the candidate
    count, how many candidates verify as true near-dups (exact
    Jaccard ≥ 0.5), the resulting precision, and the mean absolute
    error of the 16-perm MinHash ESTIMATE against exact Jaccard over
    the candidate set. Recall's side of the story is pinned by the
    prefix-filter no-false-negative test; this is the wasted-work
    side — precision tells you how many verification joins the bands
    force per true pair, MAE tells you whether the signature is long
    enough to pre-rank candidates before the (more expensive) exact
    verify at 100 TB.

    Determinism: everything is integer fixed-point — estimate
    = matches·1e6 div 16, exact = inter·1e6 div union (both
    nonnegative, so Spark's truncating div == DuckDB's flooring //),
    absolute errors are exact int64 sums.

    Scale: identical shuffle profile to ``minhash_lsh_neardup``
    (persisted sigs, banded self-join, verify join) plus one 1-row
    map-side-combined reduce — the audit is free relative to the
    dedup pass it instruments.
    """
    corpus = _near_dup_corpus(spark, sf_dir)
    sigs, bands = D._sigs_and_bands(corpus, "doc_id", "text", 5, None)
    a = bands.select(F.col("doc_id").alias("id_a"), "band_id", "band_key")
    b = bands.select(F.col("doc_id").alias("id_b"), "band_id", "band_key")
    cand = (a.join(b, ["band_id", "band_key"])
            .where(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())
    sh = sigs.select("doc_id", "shingles", "sig")
    joined = (cand
              .join(sh.select(F.col("doc_id").alias("id_a"),
                              F.col("shingles").alias("sh_a"),
                              F.col("sig").alias("sig_a")), "id_a")
              .join(sh.select(F.col("doc_id").alias("id_b"),
                              F.col("shingles").alias("sh_b"),
                              F.col("sig").alias("sig_b")), "id_b"))
    n_inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - n_inter
    matches = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: (x == y).cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = joined.select(
        (n_inter.cast("long") * 1_000_000).alias("inter_sc"),
        union.cast("long").alias("un"),
        (matches * 1_000_000).alias("match_sc"))
    scored = scored.select(
        F.expr("inter_sc div un").alias("jac_e6"),
        F.expr(f"match_sc div {D.N_PERMS}").alias("est_e6"))
    return scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("jac_e6") >= _PREC_T_E6, 1).otherwise(0))
         .alias("n_true_pairs"),
        F.expr(f"sum(case when jac_e6 >= {_PREC_T_E6} then 1 else 0 end) "
               f"* 1000000 div count(1)").alias("precision_e6"),
        F.expr("sum(abs(est_e6 - jac_e6)) div count(1)").alias("mae_e6"))


def _lsh_precision_sql() -> str:
    p = D.HASH_MOD
    sig_cols = ", ".join(
        f"coalesce(list_min(list_transform(hashes, "
        f"h -> ({D.PERM_A[j]} * h + {D.PERM_B[j]}) % {p})), {p}) AS s{j}"
        for j in range(D.N_PERMS))
    band_selects = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '_' || ".join(
            f"CAST(s{b * D.ROWS_PER_BAND + r} AS VARCHAR)"
            for r in range(D.ROWS_PER_BAND))
        + " AS band_key FROM sigs"
        for b in range(D.N_BANDS))
    match_terms = " + ".join(
        f"(CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END)"
        for j in range(D.N_PERMS))
    return f"""
WITH {SQL_NEAR_CORPUS},
hashed AS (
    SELECT doc_id, {sql_shingle_hashes()} AS hashes FROM corpus
),
sigs AS (SELECT doc_id, hashes, {sig_cols} FROM hashed),
bands AS ({band_selects}),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
),
scored AS (
    SELECT 1000000 * CAST(len(list_intersect(sa.hashes, sb.hashes))
                          AS BIGINT)
           // (len(sa.hashes) + len(sb.hashes)
               - len(list_intersect(sa.hashes, sb.hashes))) AS jac_e6,
           CAST(({match_terms}) AS BIGINT) * 1000000 // {D.N_PERMS}
               AS est_e6
    FROM cand
    JOIN sigs sa ON sa.doc_id = id_a
    JOIN sigs sb ON sb.doc_id = id_b
)
SELECT CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN jac_e6 >= {_PREC_T_E6} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_true_pairs,
       CAST(sum(CASE WHEN jac_e6 >= {_PREC_T_E6} THEN 1 ELSE 0 END)
            AS BIGINT) * 1000000 // count(*) AS precision_e6,
       CAST(sum(abs(est_e6 - jac_e6)) AS BIGINT) // count(*) AS mae_e6
FROM scored
"""


QUERIES["lsh_candidate_precision"] = (_lsh_candidate_precision,
                                      _lsh_precision_sql())


# --------------------------------------------------------------------------
# soundex_blocking: phonetic blocking quality for entity resolution
# --------------------------------------------------------------------------

_SDX_MAP = ("BFPVCGJKQSXZDTLMNRAEIOUYHW", "11112222222233455600000000")
_SDX_TOPK = 25


def _sdx_collapse(expr: str) -> str:
    """Collapse runs of equal code digits by doubling replaces:
    5 rounds of replace('dd','d') per digit kill runs up to 2^5 = 32
    (> any word) — pure string builtins, identical semantics in both
    engines, and on the Spark side it stays inside codegen (no
    interpreted HOF fold on the hot path)."""
    out = expr
    for d in "0123456":
        for _ in range(5):
            out = f"replace({out}, '{d}{d}', '{d}')"
    return out


def _sdx_expr(word: str) -> str:
    """American Soundex (adjacent-equal codes collapsed before zero
    removal; the H/W-separator refinement intentionally omitted —
    documented simplification, applied identically in both engines).
    ``word`` must be a lowercase [a-z]+ token expression."""
    coded = f"translate(upper({word}), '{_SDX_MAP[0]}', '{_SDX_MAP[1]}')"
    dedup = _sdx_collapse(coded)
    digits = f"replace(substr({dedup}, 2), '0', '')"
    return (f"concat(upper(substr({word}, 1, 1)), "
            f"rpad(substr({digits}, 1, 3), 3, '0'))")


def _soundex_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking audit over the corpus vocabulary: group every
    distinct word by its Soundex code (the classic entity-resolution
    blocking key for names — typos and spelling variants land in the
    same block) and report, for the largest blocks, how many candidate
    pairs the block generates and how many are PLAUSIBLE matches
    (edit distance <= 2) — the block-quality precision proxy that
    tells an ER pipeline whether phonetic blocking is tight enough or
    needs a second key (cf. sorted_neighborhood_pairs,
    lsh_candidate_precision — same audit, different blocker).

    Determinism: Soundex is pure integer/string builtins (translate +
    bounded replace-doubling collapse); pair counts and Levenshtein
    distances are exact integers in both engines.

    Scale: vocabulary-sized frames after ONE distinct over the token
    stream (md5-keyed); within-block self-join cost is Σ block² —
    soundex blocks are bounded by the phonetic space, and the audit
    itself is what detects an oversized block before it hurts.
    """
    docs = load(spark, sf_dir, "documents")
    words = (docs.select(F.explode(
                 F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
                 .alias("w"))
             .where(F.col("w").rlike("^[a-z]+$"))
             .groupBy(F.unhex(F.md5("w")).alias("wk"))
             .agg(F.min("w").alias("w"))
             .select("w", F.expr(_sdx_expr("w")).alias("sdx")))
    blocks = (words.groupBy("sdx")
              .agg(F.count(F.lit(1)).alias("n_words"),
                   F.min("w").alias("first_word"),
                   F.max("w").alias("last_word")))
    a, b = words.alias("a"), words.alias("b")
    pairs = (a.join(b, (F.col("a.sdx") == F.col("b.sdx"))
                    & (F.col("a.w") < F.col("b.w")))
             .groupBy(F.col("a.sdx").alias("sdx"))
             .agg(F.count(F.lit(1)).alias("n_pairs"),
                  F.sum((F.levenshtein(F.col("a.w"), F.col("b.w")) <= 2)
                        .cast("long")).alias("n_close_pairs")))
    return (blocks.join(pairs, "sdx", "left")
            .select("sdx", "n_words", "first_word", "last_word",
                    F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
                    F.coalesce("n_close_pairs", F.lit(0))
                    .alias("n_close_pairs"))
            .orderBy(F.desc("n_words"), "sdx").limit(_SDX_TOPK))


def _soundex_sql() -> str:
    sdx = _sdx_expr("w")
    return rf"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
  FROM documents
),
vocab AS (
  SELECT min(w) AS w
  FROM toks WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY unhex(md5(w))
),
words AS (
  SELECT w, {sdx} AS sdx FROM vocab
),
blocks AS (
  SELECT sdx, CAST(count(*) AS BIGINT) AS n_words,
         min(w) AS first_word, max(w) AS last_word
  FROM words GROUP BY sdx
),
pairs AS (
  SELECT a.sdx, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN levenshtein(a.w, b.w) <= 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_close_pairs
  FROM words a JOIN words b ON a.sdx = b.sdx AND a.w < b.w
  GROUP BY a.sdx
)
SELECT bl.sdx, bl.n_words, bl.first_word, bl.last_word,
       coalesce(p.n_pairs, 0) AS n_pairs,
       coalesce(p.n_close_pairs, 0) AS n_close_pairs
FROM blocks bl LEFT JOIN pairs p ON bl.sdx = p.sdx
ORDER BY bl.n_words DESC, bl.sdx ASC
LIMIT {_SDX_TOPK}
"""


QUERIES["soundex_blocking"] = (_soundex_blocking, _soundex_sql())


# --------------------------------------------------------------------------
# winnowing_overlap: MOSS-style fingerprint selection + cross-doc overlap
# --------------------------------------------------------------------------

_WIN_K = 8    # char-gram length
_WIN_W = 4    # winnowing window (guarantee: matches >= K+W-1 chars found)
_WIN_MAXDF = 50   # stop-fingerprint cut (shared by more docs = boilerplate)
_WIN_TOPK = 25


def _winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken, the MOSS algorithm):
    hash every 8-char gram, keep the MINIMUM hash of each sliding
    window of 4 consecutive grams — a position-robust fingerprint set
    that GUARANTEES any shared substring of >= K+W-1 = 11 chars
    contributes a shared fingerprint — then rank document pairs by
    shared-fingerprint count. The guarantee-based sibling of MinHash
    (probabilistic sampling) and duplicate_ngram_spans (exact word
    grams): this is the plagiarism-detector shape, catching shared
    SPANS regardless of where they sit in the document.

    Determinism: 48-bit md5 gram hashes (the module idiom), window
    minima are order-independent, overlap counts exact integers.

    Scale: grams are linear in corpus bytes; the window min is a
    per-doc rows-frame; fingerprints shared by > _WIN_MAXDF docs are
    dropped (the stop-fingerprint cut every MOSS deployment applies),
    which bounds the inverted-index self-join to Σ df² over rare
    fingerprints. Top-k is a TakeOrdered.
    """
    from pyspark.sql import Window

    docs = (load(spark, sf_dir, "documents")
            .filter(F.length("text") >= _WIN_K + _WIN_W - 1)
            .select("doc_id", "text", F.length("text").alias("n")))
    grams = docs.select(
        "doc_id", "n",
        F.posexplode(F.expr(
            f"transform(sequence(1, length(text) - {_WIN_K - 1}),"
            f" i -> conv(substr(md5(substr(text, i, {_WIN_K})), 1, 12),"
            f" 16, 10))")).alias("i0", "h"))
    w = (Window.partitionBy("doc_id").orderBy("i0")
         .rowsBetween(0, _WIN_W - 1))
    fps = (grams
           .withColumn("fp", F.min(F.col("h").cast("long")).over(w))
           .where(F.col("i0") <= F.col("n") - _WIN_K + 1 - _WIN_W)
           .select("doc_id", "fp").distinct())
    df_cut = (fps.groupBy("fp")
              .agg(F.count(F.lit(1)).alias("df"))
              .where(F.col("df") <= _WIN_MAXDF))
    rare = fps.join(df_cut.select("fp"), "fp")
    sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = rare.alias("a"), rare.alias("b")
    shared = (a.join(b, (F.col("a.fp") == F.col("b.fp"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("doc_a"),
                       F.col("b.doc_id").alias("doc_b"))
              .agg(F.count(F.lit(1)).alias("n_shared")))
    sa = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"))
    return (shared.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "n_shared", "sz_a", "sz_b",
                    F.expr("n_shared * 1000000"
                           " div (sz_a + sz_b - n_shared)")
                    .alias("jaccard_e6"))
            .orderBy(F.desc("n_shared"), "doc_a", "doc_b")
            .limit(_WIN_TOPK))


_WINNOW_SQL = f"""
WITH docs AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE length(text) >= {_WIN_K + _WIN_W - 1}
),
grams AS (
  SELECT doc_id, n, i,
         CAST('0x' || substr(md5(substr(text, CAST(i AS BIGINT),
                                        {_WIN_K})), 1, 12) AS BIGINT) AS h
  FROM docs, unnest(range(1, n - {_WIN_K - 1} + 1)) AS t(i)
),
winmin AS (
  SELECT doc_id, i, n,
         min(h) OVER (PARTITION BY doc_id ORDER BY i
                      ROWS BETWEEN CURRENT ROW
                      AND {_WIN_W - 1} FOLLOWING) AS fp
  FROM grams
),
fps AS (
  -- i is 1-based (Spark's posexplode i0 is 0-based): valid window
  -- starts are 1 .. G - W + 1 with G = n - K + 1 grams
  SELECT DISTINCT doc_id, fp FROM winmin
  WHERE i <= n - {_WIN_K} + 2 - {_WIN_W}
),
df_cut AS (
  SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {_WIN_MAXDF}
),
rare AS (SELECT f.doc_id, f.fp FROM fps f JOIN df_cut USING (fp)),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
          FROM rare GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.n_shared, sa.sz AS sz_a, sb.sz AS sz_b,
       s.n_shared * 1000000 // (sa.sz + sb.sz - s.n_shared) AS jaccard_e6
FROM shared s
JOIN sizes sa ON sa.doc_id = s.doc_a
JOIN sizes sb ON sb.doc_id = s.doc_b
ORDER BY s.n_shared DESC, s.doc_a, s.doc_b
LIMIT {_WIN_TOPK}
"""


QUERIES["winnowing_overlap"] = (_winnowing_overlap, _WINNOW_SQL)


# --------------------------------------------------------------------------
# minhash_estimator_calibration: signature-agreement estimate vs exact J
# --------------------------------------------------------------------------

def _minhash_estimator_calibration(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Calibration of the MinHash Jaccard estimator on the LSH
    candidate set: for every candidate pair, the estimate is the
    share of agreeing signature slots (E[agree/k] = J, the MinHash
    identity) and the truth is exact shingle Jaccard; pairs bin by
    agreement count (0..{k} slots) and each bin reports its mean true
    Jaccard and the bias — the recall-gate's sibling for the DEDUP
    stack (ann_recall_eval audits the ANN index; this audits the
    estimator the near-dup thresholds trust).

    Determinism: agreement counts and per-pair jac_e6 = 1e6·|∩| div
    |∪| are exact ints; bin means are floored integer divisions.

    Scale: identical candidate generation to minhash_lsh_neardup
    (banded, never all-pairs); the calibration tail runs on {k}+1
    bins.
    """.format(k=D.N_PERMS)
    docs = _near_dup_corpus(spark, sf_dir)
    base = docs.select(
        "doc_id",
        D.shingle_hashes(F.col("text"), 5).alias("hashes"))
    sigs = base.select(
        "doc_id", "hashes",
        D.signature_from_hashes(F.col("hashes")).alias("sig"))
    bands = sigs.select("doc_id", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band_id"),
                 F.concat_ws("_", *[
                     F.element_at("sig", b * D.ROWS_PER_BAND + r + 1)
                     .cast("string")
                     for r in range(D.ROWS_PER_BAND)]).alias("band_key"))
        for b in range(D.N_BANDS)])).alias("bb")) \
        .select("doc_id", "bb.band_id", "bb.band_key")
    cand = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct())
    sa = sigs.select(F.col("doc_id").alias("id_a"),
                     F.col("sig").alias("sig_a"),
                     F.col("hashes").alias("h_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"),
                     F.col("sig").alias("sig_b"),
                     F.col("hashes").alias("h_b"))
    pairs = (cand.join(sa, "id_a").join(sb, "id_b")
             .select(
                 F.expr("size(filter(zip_with(sig_a, sig_b,"
                        " (x, y) -> x = y), v -> v))").alias("agree16"),
                 F.expr("size(array_intersect(h_a, h_b))").alias("ni"),
                 (F.size("h_a") + F.size("h_b")).alias("su"))
             .select("agree16", F.expr(
                 "CASE WHEN su - ni = 0 THEN 1000000"
                 " ELSE 1000000 * ni div (su - ni) END").alias("jac_e6")))
    return (pairs.groupBy("agree16")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.expr("sum(jac_e6) div count(1)").alias("mean_jac_e6"))
            .withColumn("est_e6", F.expr(
                f"1000000 * agree16 div {D.N_PERMS}"))
            .withColumn("bias_e6", F.expr("est_e6 - mean_jac_e6"))
            .select("agree16", "n_pairs", "est_e6", "mean_jac_e6",
                    "bias_e6"))


def _minhash_calibration_sql() -> str:
    agree = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END"
        for j in range(D.N_PERMS))
    return f"""
WITH {minhash_pairs_cte()},
ag AS (
  SELECT c.id_a, c.id_b,
         CAST({agree} AS INT) AS agree16,
         len(list_intersect(ha.hashes, hb.hashes)) AS ni,
         len(ha.hashes) + len(hb.hashes) AS su
  FROM cand c
  JOIN sigs sa ON sa.doc_id = c.id_a
  JOIN sigs sb ON sb.doc_id = c.id_b
  JOIN hashed ha ON ha.doc_id = c.id_a
  JOIN hashed hb ON hb.doc_id = c.id_b
),
scored AS (
  SELECT agree16,
         CASE WHEN su - ni = 0 THEN 1000000
              ELSE 1000000 * CAST(ni AS BIGINT) // (su - ni) END AS jac_e6
  FROM ag
)
SELECT agree16, CAST(count(*) AS BIGINT) AS n_pairs,
       1000000 * agree16 // {D.N_PERMS} AS est_e6,
       CAST(sum(jac_e6) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS mean_jac_e6,
       1000000 * agree16 // {D.N_PERMS}
           - CAST(sum(jac_e6) AS BIGINT) // CAST(count(*) AS BIGINT)
           AS bias_e6
FROM scored GROUP BY agree16
"""


QUERIES["minhash_estimator_calibration"] = (_minhash_estimator_calibration,
                                            _minhash_calibration_sql())


# ---- greedy 1-1 pair matching (the assignment step after scoring) ---------
_GPM_PREFIX = 1024


def _greedy_pair_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-weight 1-1 matching over the n-gram Jaccard
    candidate pairs: walk candidates best-first and keep a pair only
    if NEITHER side is already matched — the assignment step every
    record-linkage pipeline runs after ``fellegi_sunter_scoring`` /
    ``ngram_jaccard_neardup`` produce scores (a doc must merge into at
    most one survivor). The walk is inherently sequential, so it runs
    on a deterministic TakeOrdered {_GPM_PREFIX}-pair best-first
    prefix (the sprt/elo bounded-walk discipline) as a LIST fold whose
    accumulator carries [n_matched, score_sum, used_ids...]; scores
    are exact e6 ints (jaccard is round-6 in both engines).

    Scale: candidate generation is the existing banded/shingle join;
    the greedy walk is 1024 interpreted steps on one row. A full-scale
    assignment would iterate prefix batches (matched ids anti-join the
    next batch), same fold per batch.
    """
    pairs = D.jaccard_pairs(_near_dup_corpus(spark, sf_dir),
                            "doc_id", "text", n=5, threshold=0.5)
    pref = (pairs.select(
        F.round(F.col("jaccard") * 1_000_000).cast("long").alias("s"),
        "id_a", "id_b")
        .orderBy(F.desc("s"), F.asc("id_a"), F.asc("id_b"))
        .limit(_GPM_PREFIX))
    packed = pref.groupBy().agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.expr("array_sort(collect_list(struct(-s as ns, id_a, id_b)))")
        .alias("xs"))
    fold = """
  aggregate(
    transform(xs, e -> array(-e.ns, e.id_a, e.id_b)),
    array(cast(0 as bigint), cast(0 as bigint)),
    (acc, e) -> CASE
      WHEN array_contains(slice(acc, 3, size(acc)), element_at(e, 2))
        OR array_contains(slice(acc, 3, size(acc)), element_at(e, 3))
      THEN acc
      ELSE concat(
        array(element_at(acc, 1) + 1,
              element_at(acc, 2) + element_at(e, 1)),
        slice(acc, 3, size(acc)),
        array(element_at(e, 2), element_at(e, 3)))
    END)
"""
    return packed.select(
        "n_candidates",
        F.expr(f"element_at({fold}, 1)").alias("n_matched"),
        F.expr(f"element_at({fold}, 2)").alias("score_sum_e6"))


_GPM_SQL = f"""
WITH {SQL_NEAR_CORPUS},
sh AS (
    SELECT doc_id, unnest({sql_shingle_hashes()}) AS shingle FROM corpus
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
),
pairs AS (
    SELECT id_a, id_b,
           round(n_inter / (sa.n_shingles + sb.n_shingles - n_inter), 6)
               AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
),
pref AS (
    SELECT CAST(round(jaccard * 1000000) AS BIGINT) AS s, id_a, id_b
    FROM pairs WHERE jaccard >= 0.5
    ORDER BY s DESC, id_a, id_b
    LIMIT {_GPM_PREFIX}
),
packed AS (
    SELECT CAST(count(*) AS BIGINT) AS n_candidates,
           list([s, id_a, id_b] ORDER BY -s, id_a, id_b) AS xs
    FROM pref
),
folded AS (
    SELECT n_candidates,
           list_reduce(
             list_prepend([0::BIGINT, 0::BIGINT], xs),
             (acc, e) -> CASE
               WHEN list_contains(list_slice(acc, 3, len(acc)), e[2])
                 OR list_contains(list_slice(acc, 3, len(acc)), e[3])
               THEN acc
               ELSE [acc[1] + 1, acc[2] + e[1]]
                    || list_slice(acc, 3, len(acc)) || [e[2], e[3]]
             END) AS a
    FROM packed
)
SELECT n_candidates, a[1] AS n_matched, a[2] AS score_sum_e6
FROM folded
"""

QUERIES["greedy_pair_matching"] = (_greedy_pair_matching, _GPM_SQL)
