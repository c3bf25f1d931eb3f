"""Incremental corpus-curation pipeline (streaming end-to-end).

``availableNow`` stream of document drops → per-batch curation funnel
(language ID → quality → batch-vs-corpus near-dup → within-batch
near-dup) → durable band INDEX append → training-shard materialization.
Each run drains whatever landed since the last one, exactly once
(checkpointed); the persisted MinHash band index is what makes run N+1
incremental — new batches dedup against every previously kept document
WITHOUT ever recomputing or reshuffling the standing corpus, the shape
``operators/dedup.incremental_minhash_pairs`` documents.

Mirror of the reference's incremental publish-set ingest
(/root/reference/README.md:87-90 "incremental-*" drops;
alma_publish_parser.py:280-308 per-run drain + durable warehouse): the
landing dir is the SFTP drop, the band index + kept table are the
warehouse, and replays are idempotent because every state table writes
OVERWRITE into its own ``batch_id=N`` partition and every state read
excludes the current batch (see curate_batch's replay-safety note).

State layout under ``state_dir``:

- ``index_bands/``  (doc_id, band_id, band_key) — LSH probe table; at
  scale this is the bucketed-by-band_key dedup index.
- ``index_sigs/``   (doc_id, shingles)          — verification sets.
- ``audit/``        (doc_id, lang_pred, quality, drop_reason, kept)
  under ``batch_id=N`` partitions — the per-document governance trail.
- ``gram_counts/`` (gram_key, cnt) — per-batch deltas of
  8-gram occurrence counts over KEPT documents; summed on read. The
  span-removal index: batch N+1's shard text drops any span whose gram
  was already seen (in the standing corpus or twice within the batch),
  without rescanning the corpus — the rewrite twin of the band index.
- ``shards/batch_id=N/`` — training shards for batch N's survivors
  (plans/corpus_queries.write_training_shards layout), per-batch dirs
  so a loader can replay batches in arrival order. Shard text is the
  SPAN-CLEANED form; the gram index is extended with the original
  kept text so later arrivals dedup against what was actually seen.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..functions import text as T
from ..tables import persist, release

QUALITY_MIN = 0.5
JACCARD_THRESHOLD = 0.5
_EMPTY_BANDS = "doc_id long, band_id int, band_key string"
_EMPTY_SIGS = "doc_id long, shingles array<bigint>"


def _read_state(spark: SparkSession, path: str, schema: str,
                before_batch: int | None = None) -> DataFrame:
    """Read a per-batch-partitioned state table (hive-style
    ``batch_id=N`` subdirs). ``before_batch`` excludes the CURRENT
    batch's own rows — the replay guard: a batch re-executed after a
    mid-batch crash must never see its failed attempt's partial state
    (it would flag its own docs as corpus duplicates and span-strip
    its own shard text)."""
    full = schema + ", batch_id long"
    if os.path.isdir(path) and any(
            f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs):
        df = spark.read.schema(full).parquet(path)
    else:
        df = spark.createDataFrame([], full)
    if before_batch is not None:
        df = df.where(F.col("batch_id") < before_batch)
    return df.drop("batch_id")


# Target rows per state-table output file. State frames derive from
# CACHED plans, and AQE does not re-coalesce cached-plan output
# partitioning (canChangeCachedPlanOutputPartitioning=false), so an
# uncoalesced write emits one near-empty file per cached partition —
# 32 files/table/batch at local shuffle settings, and the per-batch
# state dirs accrete them forever (guide §6 small-files: every later
# batch re-lists and re-opens all of them). Sized so a file lands in
# the 64-256 MB parquet band for these narrow rows; local batches get
# exactly 1 file, 100 TB batches scale to rows/2M files.
_STATE_ROWS_PER_FILE = 2_000_000


def _write_state(df: DataFrame, state_dir: str, table: str,
                 batch_id: int, rows: int | None = None) -> None:
    """Idempotent per-batch state write: everything lands under the
    batch's own partition dir with overwrite, so an at-least-once
    replay of the batch produces row-identical state instead of
    doubled appends. ``rows`` (when the caller knows the frame's
    cardinality) sizes the output to O(rows/_STATE_ROWS_PER_FILE)
    files via coalesce — callers must only pass it once the frame's
    cached ancestry is materialized, so the narrowed plan copies
    cached partitions instead of serializing the original compute."""
    if rows is not None:
        df = df.coalesce(max(1, -(-rows // _STATE_ROWS_PER_FILE)))
    df.write.mode("overwrite").parquet(
        os.path.join(state_dir, table, f"batch_id={batch_id}"))


def _jaccard(sh_a, sh_b):
    inter = F.size(F.array_intersect(sh_a, sh_b))
    return F.round(inter / (F.size(sh_a) + F.size(sh_b) - inter), 6)


def _dup_vs_index(batch_sigs: DataFrame, batch_bands: DataFrame,
                  index_bands: DataFrame, index_sigs: DataFrame,
                  threshold: float) -> DataFrame:
    """new_ids near-duplicate of ANY indexed doc. The batch band table
    broadcasts; the index side is probed on its band key and never
    reshuffles — per-batch cost is independent of corpus size."""
    cand = (index_bands
            .join(F.broadcast(batch_bands.select(
                F.col("doc_id").alias("new_id"), "band_id", "band_key")),
                ["band_id", "band_key"])
            .select("new_id", F.col("doc_id").alias("corpus_id"))
            .distinct())
    verified = (cand
        .join(batch_sigs.select(F.col("doc_id").alias("new_id"),
                                F.col("shingles").alias("sh_a")), "new_id")
        .join(index_sigs.select(F.col("doc_id").alias("corpus_id"),
                                F.col("shingles").alias("sh_b")), "corpus_id")
        .withColumn("jaccard", _jaccard(F.col("sh_a"), F.col("sh_b"))))
    return (verified.where(F.col("jaccard") >= threshold)
            .select("new_id").distinct())


_EMPTY_GRAMS = "gram_key binary, cnt long"


def _span_clean_vs_index(batch_kept: DataFrame,
                         gram_index: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(cleaned, gram_deltas): rewrite each kept doc with every word
    covered by an already-seen 8-gram removed — "seen" = total count
    (standing index + this batch) > 1 — and the batch's own gram
    counts as the delta to append.

    Scale: the index side is probed with a broadcast of the batch's
    gram keys and never reshuffles (same probe shape as the band
    index); the rewrite is the scan-fused array filter of
    ``plans/corpus_queries.duplicate_span_removal``."""
    from ..plans.corpus_queries import NGRAM, span_keys

    docs = batch_kept.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w"))
    # persisted: the delta aggregate and the dup-start collection both
    # consume the exploded span keys — unpersisted, each branch re-paid
    # the split + 8-gram explode + md5 over the batch (released by
    # curate_batch's finally -> tables.release)
    spans = persist(span_keys(docs))
    deltas = spans.groupBy("gram_key").agg(F.count(F.lit(1)).alias("cnt"))
    idx_hits = (gram_index
                .join(F.broadcast(deltas.select("gram_key")), "gram_key")
                .groupBy("gram_key").agg(F.sum("cnt").alias("idx_cnt")))
    totals = (deltas
              .join(idx_hits, "gram_key", "left")
              .select("gram_key",
                      (F.col("cnt") + F.coalesce("idx_cnt", F.lit(0)))
                      .alias("total")))
    dup_starts = (spans.join(totals, "gram_key")
                  .where(F.col("total") > 1)
                  .groupBy("doc_id")
                  .agg(F.collect_list("i").alias("starts")))
    joined = (docs.join(dup_starts, "doc_id", "left")
              .select("doc_id", "w",
                      F.coalesce("starts", F.array().cast("array<int>"))
                       .alias("starts")))
    kept_words = F.filter(
        "w",
        lambda t, j: ~F.exists(
            "starts",
            lambda s: (s <= j + 1) & (j + 1 <= s + (NGRAM - 1))))
    cleaned = joined.select(
        "doc_id",
        F.array_join(kept_words, " ").alias("clean_text"),
        (F.size("w") - F.size(kept_words)).cast("int").alias("n_removed"))
    return cleaned, deltas


def curate_batch(spark: SparkSession, batch: DataFrame, state_dir: str,
                 batch_id: int, quality_min: float = QUALITY_MIN,
                 threshold: float = JACCARD_THRESHOLD) -> None:
    """One funnel pass over a batch: verdict every document, append the
    audit trail, extend the band index with survivors, and shard them.

    Severity order matches plans/corpus_queries.corpus_curation_end2end:
    unusable (lang/quality) → corpus duplicate → within-batch duplicate
    → kept. Within-batch dedup keeps the lowest doc_id of each
    near-dup pair (id_a < id_b → id_b drops), after corpus duplicates
    are already excluded so a batch twin of a corpus dup is charged to
    the corpus, not its sibling.

    Replay safety (foreachBatch is at-least-once): every state write
    overwrites THIS batch's partition dir, and every state READ
    excludes this batch's id — so re-executing a batch after a
    mid-batch crash rewrites identical state instead of double-
    appending, and never sees its failed attempt's partial rows (which
    would flag its own docs as corpus duplicates and span-strip its
    own shards).
    """
    from pyspark import StorageLevel

    # persisted: the batch lineage (landing read + dedup SHUFFLE) feeds
    # the audit materialization, the survivor check, and the shard
    # write — unpersisted, each action re-paid the read + exchange
    # (r11 profile; released by the finally -> tables.release).
    # The cache cut sits ABOVE the lang/quality scoring (r12): scalars
    # feeds both the sigs/bands chain and the verdict, so caching the
    # raw batch instead re-paid the full regex scoring pass once per
    # consumer — caching the scored frame costs two extra small columns
    # and computes lang_id + quality_score exactly once per batch.
    scalars = persist(batch.dropDuplicates(["doc_id"])
                      .select("doc_id", "text",
                              T.lang_id(F.col("text")).alias("lang_pred"),
                              T.quality_score(F.col("text")).alias("quality")))
    usable = scalars.where(
        (F.col("lang_pred") != "und") & (F.col("quality") >= quality_min))

    index_bands = _read_state(spark, os.path.join(state_dir, "index_bands"),
                              _EMPTY_BANDS, before_batch=batch_id)
    index_sigs = _read_state(spark, os.path.join(state_dir, "index_sigs"),
                             _EMPTY_SIGS, before_batch=batch_id)
    sigs, bands = D._sigs_and_bands(usable, "doc_id", "text",
                                    n=5, max_tokens=None)
    verdict = None
    try:
        corpus_dups = _dup_vs_index(sigs, bands, index_bands, index_sigs,
                                    threshold)
        # reuse the sigs/bands computed above for the corpus-index
        # probe — minhash_lsh_pairs(usable, ...) would re-shingle and
        # re-fold the whole batch a second time (r11 profile: the
        # signature build is the batch's dominant scan-fused cost)
        batch_pairs = D.lsh_pairs_from(sigs, bands, "doc_id",
                                       threshold=threshold)
        batch_dups = (batch_pairs
                      .join(corpus_dups.withColumnRenamed("new_id", "id_a"),
                            "id_a", "left_anti")
                      .select(F.col("id_b").alias("new_id")).distinct())

        # persisted: five downstream actions (count-agg/audit/bands/
        # sigs/shards) would otherwise each replay the scoring + LSH +
        # index probe lineage
        verdict = (scalars
            .join(corpus_dups.withColumnRenamed("new_id", "doc_id")
                  .withColumn("_corpus_dup", F.lit(True)), "doc_id", "left")
            .join(batch_dups.withColumnRenamed("new_id", "doc_id")
                  .withColumn("_batch_dup", F.lit(True)), "doc_id", "left")
            .select(
                "doc_id", "lang_pred", "quality",
                F.when(F.col("lang_pred") == "und", F.lit("lang"))
                 .when(F.col("quality") < quality_min, F.lit("quality"))
                 .when(F.col("_corpus_dup"), F.lit("corpus_duplicate"))
                 .when(F.col("_batch_dup"), F.lit("batch_duplicate"))
                 .otherwise(F.lit("kept")).alias("drop_reason"))
            .withColumn("kept", F.col("drop_reason") == "kept")
            .persist(StorageLevel.MEMORY_AND_DISK))
        # ONE parallel aggregate materializes the verdict cache (and
        # everything under it: dedup exchange, scoring, sigs, index
        # probes) across all partitions BEFORE any coalesced write, and
        # returns the two cardinalities the writes and the emptiness
        # check need — the r11 shape paid the materialization inside
        # the 32-task audit write and then a separate take(1) probe.
        tot_kept = verdict.agg(
            F.count(F.lit(1)).alias("tot"),
            F.sum(F.col("kept").cast("long")).alias("kept")).first()
        n_tot, n_kept = tot_kept["tot"], int(tot_kept["kept"] or 0)

        kept_ids = verdict.where("kept").select("doc_id")
        from ..operators.dedup import N_BANDS

        def _w_audit() -> None:
            # committed even for batches with zero survivors
            _write_state(verdict, state_dir, "audit", batch_id, rows=n_tot)

        def _w_bands() -> None:
            _write_state(bands.join(kept_ids, "doc_id"),
                         state_dir, "index_bands", batch_id,
                         rows=N_BANDS * n_kept)

        def _w_sigs() -> None:
            _write_state(
                sigs.select("doc_id", "shingles").join(kept_ids, "doc_id"),
                state_dir, "index_sigs", batch_id, rows=n_kept)

        def _w_shards_and_grams() -> None:
            if not n_kept:
                return
            from ..plans.corpus_queries import write_training_shards
            survivors = scalars.select("doc_id", "text").join(
                kept_ids, "doc_id")
            gram_index = _read_state(
                spark, os.path.join(state_dir, "gram_counts"), _EMPTY_GRAMS,
                before_batch=batch_id)
            cleaned, deltas = _span_clean_vs_index(survivors, gram_index)
            # shards carry the span-cleaned text; the index is extended
            # with the ORIGINAL kept grams so later arrivals dedup
            # against what was actually published into the corpus
            write_training_shards(
                survivors.drop("text")
                .join(cleaned.select(
                    "doc_id", F.col("clean_text").alias("text")), "doc_id"),
                os.path.join(state_dir, "shards", f"batch_id={batch_id}"))
            _write_state(deltas, state_dir, "gram_counts", batch_id)

        # The audit partition commits first, so an abandoned batch never
        # leaves index or shard partitions without its audit trail. The
        # other three write chains are independent actions over frames
        # the counting aggregate above already materialized (verdict
        # cache + the persisted sigs), so they run from a driver thread
        # pool (guide §2.6): the two O(1)-task state writes back-fill
        # cores while the heavy span-clean + shard chain runs, instead of
        # each action paying its scheduling/commit latency serially.
        # Replay safety is unchanged — every write still overwrites its
        # own batch_id partition, so any subset committed by a crashed
        # attempt is rewritten identically on retry; a failure in any
        # chain re-raises here and fails the batch.
        _w_audit()
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=3) as pool:
            for fut in [pool.submit(w) for w in
                        (_w_shards_and_grams, _w_bands, _w_sigs)]:
                fut.result()
    finally:
        if verdict is not None:
            verdict.unpersist()
        release()


def run_incremental_curation(spark: SparkSession, landing_dir: str,
                             state_dir: str, checkpoint_dir: str,
                             quality_min: float = QUALITY_MIN,
                             threshold: float = JACCARD_THRESHOLD) -> None:
    """Drain the landing dir once (availableNow), curating each batch in
    order through :func:`curate_batch`. Re-running with the same
    checkpoint skips already-committed batches (exactly-once), so a
    crashed run resumes where it stopped — the streaming analog of the
    reference's per-run incremental drain."""
    stream = (spark.readStream
              .schema("doc_id long, text string")
              .parquet(landing_dir))

    def process(batch_df: DataFrame, batch_id: int) -> None:
        curate_batch(spark, batch_df, state_dir, batch_id,
                     quality_min=quality_min, threshold=threshold)

    q = (stream.writeStream
         .foreachBatch(process)
         .option("checkpointLocation", checkpoint_dir)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
