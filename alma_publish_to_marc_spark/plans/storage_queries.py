"""Oracle-checked storage-layout and scan-efficiency planning queries:
FFD compaction bin packing, zone-map skip audit across physical
layouts, delta-encoding bit-width audit, RLE run audit, and a
skew-aware partition-size planner.

This is the ops-planning family a lakehouse team runs over table
statistics before rewriting 100 TB: how many files does compaction
produce, which layout lets min/max zone maps skip the most files for
the real predicate panel, which columns delta/RLE-compress well enough
to justify a sort order, and how many shuffle partitions each key
needs (AQE-style skew detection included).

Reference parity note: the reference ETL
(/root/reference/README.md publish pipeline) writes fixed-size record
batches but has no layout analytics; this family extends SURVEY.md
§2's beyond-reference training-data/ops capabilities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..epochs import US_PER_DAY, day_col as _day, sql_day as _sql_day
from ..tables import load, on_release, persist

QUERIES: dict = {}


# --------------------------------------------------------------------------
# First-fit-decreasing compaction bin packing (per source)
# --------------------------------------------------------------------------
BIN_CAPACITY = 2048


def ffd_fold_expr(sizes_col: str) -> str:
    """The Spark-SQL FFD fold over a desc-sorted size array: a single
    LIST accumulator of bin remainders, first-fit via array_position.
    Module-level so the hypothesis soundness test exercises the SAME
    expression the query ships (never a drifting copy)."""
    idx = "array_position(transform(acc, b -> b >= s), true)"
    step = (f"CASE WHEN {idx} > 0 THEN "
            f"transform(acc, (b, i) -> CASE WHEN i = {idx} - 1 "
            f"THEN b - s ELSE b END) "
            f"ELSE array_append(acc, {BIN_CAPACITY}L - s) END")
    return (f"aggregate({sizes_col}, CAST(array() AS ARRAY<BIGINT>), "
            f"(acc, s) -> {step})")


def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planner: first-fit-decreasing bin packing of each
    source's document sizes into BIN_CAPACITY-byte target files,
    reporting files produced and fill utilization per source. FFD is
    the classic 11/9·OPT+1 heuristic — the number every compaction
    job wants BEFORE it rewrites the partition.

    Determinism: sizes sort (size DESC, doc_id ASC) via a struct sort
    in both engines; the FFD fold's accumulator is a single LIST of
    bin remainders (the CLAUDE.md-safe fold shape — never a struct),
    with first-fit chosen by array_position/list_position over the
    remainder list; utilization is an integer e4 rational.

    Scale: one shuffle groups docs by source; the fold is per-group
    O(n_docs × n_bins) driver-free work. A group too large for one
    task (millions of files per partition) would switch to two-level
    packing — FFD within size-bucketed sublists, then a merge pass —
    same fold, applied hierarchically.
    """
    docs = load(spark, sf_dir, "documents")
    sizes = (docs.groupBy("source")
             .agg(F.array_sort(F.collect_list(
                 F.struct((-F.col("n_chars")).alias("neg"),
                          F.col("doc_id").alias("id")))).alias("ss"))
             .select("source",
                     F.transform("ss", lambda s: -s["neg"]).alias("sizes")))
    packed = sizes.select(
        "source",
        F.size("sizes").cast("long").alias("n_docs"),
        F.aggregate("sizes", F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("total_bytes"),
        F.expr(ffd_fold_expr("sizes")).alias("bins"))
    return packed.select(
        "source", "n_docs", "total_bytes",
        F.size("bins").cast("long").alias("n_bins"),
        F.expr(f"(10000 * total_bytes) div "
               f"(size(bins) * {BIN_CAPACITY})").alias("util_e4"))


# DuckDB list_reduce has no init parameter; the init rides as the
# prepended FIRST ELEMENT, so fold elements must share the accumulator
# type — sizes wrap as single-element lists and the step reads xs[1]
_FFD_IDX = ("coalesce(list_position("
            "list_transform(acc, b -> b >= xs[1]), true), 0)")
_FFD_STEP = (
    f"CASE WHEN {_FFD_IDX} > 0 THEN "
    f"list_transform(range(1, len(acc) + 1), "
    f"i -> CASE WHEN i = {_FFD_IDX} THEN acc[i] - xs[1] ELSE acc[i] END) "
    f"ELSE list_append(acc, CAST({BIN_CAPACITY} AS BIGINT) - xs[1]) END")

_FFD_SQL = f"""
WITH sizes AS (
    SELECT source,
           list_transform(
               list_sort(list(struct_pack(neg := -n_chars, id := doc_id))),
               x -> -x.neg) AS sizes
    FROM documents GROUP BY source
),
packed AS (
    SELECT source,
           CAST(len(sizes) AS BIGINT) AS n_docs,
           CAST(list_sum(sizes) AS BIGINT) AS total_bytes,
           list_reduce(
               list_prepend(CAST([] AS BIGINT[]),
                            list_transform(sizes, s -> [s])),
               (acc, xs) -> {_FFD_STEP}) AS bins
    FROM sizes
)
SELECT source, n_docs, total_bytes,
       CAST(len(bins) AS BIGINT) AS n_bins,
       CAST(10000 * total_bytes // (len(bins) * {BIN_CAPACITY}) AS BIGINT)
           AS util_e4
FROM packed
"""


# --------------------------------------------------------------------------
# Zone-map skip audit: min/max pruning effectiveness per layout
# --------------------------------------------------------------------------
NATURAL_FILE_KEYS = 1024    # orderkeys per synthetic file, insertion order
SORTED_FILE_DAYS = 30       # days per synthetic file, shipdate-range layout
# (lo_offset, hi_offset) day windows relative to the corpus min shipdate
PRED_WINDOWS = ((365, 395), (1000, 1030), (30, 210))


def zonemap_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max) skip audit: group lineitem into synthetic
    files under two physical layouts — insertion order (orderkey
    blocks) vs shipdate-range order — compute each file's shipdate
    min/max zone map, and evaluate the fixed predicate panel: how many
    files does each layout let the scanner skip? This is the
    measurement that justifies (or vetoes) a sort-order rewrite of a
    100 TB table.

    Determinism: file ids are integer divisions of orderkey/epoch-day
    (no global sort, no row_number); predicate windows are literal
    offsets from the broadcast min day; counts are exact.

    Scale: one scan + one hash aggregation per layout (file-id keyed,
    map-side partials); the predicate panel joins against file-count
    rows, not data rows. Nothing here touches row order, so the audit
    runs on live tables without a rewrite.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", _day("l_shipdate").alias("day"))
    base = F.broadcast(li.agg(F.min("day").alias("d0")))
    files = []
    for layout, fid in (
            ("natural", F.expr(f"l_orderkey div {NATURAL_FILE_KEYS}")),
            ("shipdate_sorted", F.expr(f"day div {SORTED_FILE_DAYS}"))):
        files.append(
            li.groupBy(fid.alias("file_id"))
              .agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
              .select(F.lit(layout).alias("layout"), "mn", "mx"))
    zones = files[0].unionByName(files[1]).crossJoin(base)
    # ONE pass: replicate each zone row across the literal predicate
    # panel (explode of a 3-struct array), aggregate by (layout, pred)
    preds = F.array(*[
        F.struct(F.lit(pid).alias("pred_id"),
                 F.lit(lo).alias("lo"), F.lit(hi).alias("hi"))
        for pid, (lo, hi) in enumerate(PRED_WINDOWS)])
    audited = zones.select(
        "layout", "mn", "mx", "d0", F.explode(preds).alias("p"))
    skipped = F.when(
        (F.col("mx") < F.col("d0") + F.col("p.lo"))
        | (F.col("mn") > F.col("d0") + F.col("p.hi")), 1).otherwise(0)
    return (audited.groupBy("layout", F.col("p.pred_id").alias("pred_id"))
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum(skipped).alias("n_skipped"))
            .select("layout", F.col("pred_id").cast("int").alias("pred_id"),
                    F.col("n_files").cast("long").alias("n_files"),
                    F.col("n_skipped").cast("long").alias("n_skipped")))


def _zonemap_sql() -> str:
    preds = " UNION ALL ".join(
        f"SELECT {pid} AS pred_id, {lo} AS lo, {hi} AS hi"
        for pid, (lo, hi) in enumerate(PRED_WINDOWS))
    return f"""
WITH li AS (
    SELECT l_orderkey, {_sql_day('l_shipdate')} AS day FROM lineitem
),
base AS (SELECT min(day) AS d0 FROM li),
zones AS (
    SELECT 'natural' AS layout, l_orderkey // {NATURAL_FILE_KEYS} AS file_id,
           min(day) AS mn, max(day) AS mx
    FROM li GROUP BY 2
    UNION ALL
    SELECT 'shipdate_sorted' AS layout, day // {SORTED_FILE_DAYS} AS file_id,
           min(day) AS mn, max(day) AS mx
    FROM li GROUP BY 2
),
preds AS ({preds})
SELECT z.layout, p.pred_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN z.mx < b.d0 + p.lo OR z.mn > b.d0 + p.hi
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_skipped
FROM zones z CROSS JOIN base b CROSS JOIN preds p
GROUP BY z.layout, p.pred_id
"""


# --------------------------------------------------------------------------
# Delta-encoding bit-width audit
# --------------------------------------------------------------------------
DELTA_BLOCK_KEYS = 128      # orderkeys per encoding block


def delta_bitwidth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-encoding audit: within insertion-order blocks, the bit
    width needed to store adjacent deltas of a SORTED key column
    (l_orderkey) vs an UNSORTED one (l_partkey) — the histogram that
    predicts parquet DELTA_BINARY_PACKED sizes and quantifies what a
    sort order buys per column.

    Determinism: block-partitioned lag ordered by (l_orderkey,
    l_linenumber) — a total order, ids are unique per line; bit width
    is string-length-of-binary (integer-exact in both engines, bin(0)
    = '0' → width 1).

    Scale: one scan, one hash shuffle on block id; every window is
    block-partitioned (never a global sort); output is a bounded
    (column × bitwidth) histogram.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey",
        F.expr(f"l_orderkey div {DELTA_BLOCK_KEYS}").alias("blk"))
    # (l_orderkey, l_linenumber) is NOT unique in the driver data;
    # every measured column joins the sort key so tied rows are
    # order-invariant for the lag deltas (canonical layout order)
    w = Window.partitionBy("blk").orderBy(
        "l_orderkey", "l_linenumber", "l_partkey")
    deltas = li.select(
        "blk",
        F.abs(F.col("l_orderkey")
              - F.lag("l_orderkey").over(w)).alias("d_orderkey"),
        F.abs(F.col("l_partkey")
              - F.lag("l_partkey").over(w)).alias("d_partkey"))
    # one window pass, one block aggregation, then a 2-way unpivot —
    # the shared `deltas` frame is scanned exactly once
    per_blk = deltas.groupBy("blk").agg(
        F.max("d_orderkey").alias("mx_orderkey"),
        F.max("d_partkey").alias("mx_partkey"))
    widths = per_blk.select(F.explode(F.array(
        F.struct(F.lit("orderkey").alias("column_name"),
                 F.col("mx_orderkey").alias("mx")),
        F.struct(F.lit("partkey").alias("column_name"),
                 F.col("mx_partkey").alias("mx")))).alias("c")) \
        .where(F.col("c.mx").isNotNull()) \
        .select(F.col("c.column_name").alias("column_name"),
                F.length(F.bin(F.col("c.mx"))).cast("int").alias("bitwidth"))
    return (widths.groupBy("column_name", "bitwidth")
            .agg(F.count(F.lit(1)).alias("n_blocks"))
            .select("column_name", "bitwidth",
                    F.col("n_blocks").cast("long").alias("n_blocks")))


_DELTA_SQL = f"""
WITH li AS (
    SELECT l_orderkey, l_linenumber, l_partkey,
           l_orderkey // {DELTA_BLOCK_KEYS} AS blk
    FROM lineitem
),
deltas AS (
    SELECT blk,
           abs(l_orderkey - lag(l_orderkey) OVER w) AS d_orderkey,
           abs(l_partkey - lag(l_partkey) OVER w) AS d_partkey
    FROM li
    WINDOW w AS (PARTITION BY blk
                 ORDER BY l_orderkey, l_linenumber, l_partkey)
),
per_blk AS (
    SELECT 'orderkey' AS column_name, blk, max(d_orderkey) AS mx
    FROM deltas GROUP BY blk
    UNION ALL
    SELECT 'partkey' AS column_name, blk, max(d_partkey) AS mx
    FROM deltas GROUP BY blk
)
SELECT column_name,
       CAST(length(bin(mx)) AS INT) AS bitwidth,
       CAST(count(*) AS BIGINT) AS n_blocks
FROM per_blk
WHERE mx IS NOT NULL
GROUP BY column_name, bitwidth
"""


# --------------------------------------------------------------------------
# RLE run audit
# --------------------------------------------------------------------------
def rle_run_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length-encoding audit: within the same insertion-order
    blocks, count value runs of low-cardinality columns
    (l_returnflag, l_linestatus) and the shipdate day — average run
    length is the direct predictor of parquet RLE/dictionary page
    sizes, and the before/after number a sort-order proposal cites.

    Determinism: run starts are lag-change indicators under the same
    total order as delta_bitwidth_audit; the average is an integer e4
    rational.

    Scale: one scan, one block-keyed shuffle shared by all three
    column walks (the lag columns ride the same window), 3-row output.
    """
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        _day("l_shipdate").alias("ship_day"),
        F.expr(f"l_orderkey div {DELTA_BLOCK_KEYS}").alias("blk"))
    # all measured columns join the sort key: tied prefixes then carry
    # identical values, so run indicators don't depend on tie order
    w = Window.partitionBy("blk").orderBy(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
        "ship_day")

    def runs(col):
        lagged = F.lag(col).over(w)
        return F.when(lagged.isNull() | (F.col(col) != lagged), 1) \
            .otherwise(0)

    marked = li.select(
        runs("l_returnflag").alias("r_returnflag"),
        runs("l_linestatus").alias("r_linestatus"),
        runs("ship_day").alias("r_ship_day"))
    # single aggregation producing all three run counts, unpivoted to
    # one row per column — `marked` (and its window) evaluates once
    totals = marked.agg(
        F.sum("r_returnflag").alias("s_returnflag"),
        F.sum("r_linestatus").alias("s_linestatus"),
        F.sum("r_ship_day").alias("s_ship_day"),
        F.count(F.lit(1)).alias("n_rows"))
    rows = totals.select(F.col("n_rows"), F.explode(F.array(
        F.struct(F.lit("returnflag").alias("column_name"),
                 F.col("s_returnflag").alias("n_runs")),
        F.struct(F.lit("linestatus").alias("column_name"),
                 F.col("s_linestatus").alias("n_runs")),
        F.struct(F.lit("ship_day").alias("column_name"),
                 F.col("s_ship_day").alias("n_runs")))).alias("c"))
    return rows.select(
        F.col("c.column_name").alias("column_name"),
        F.col("c.n_runs").cast("long").alias("n_runs"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.expr("(10000 * n_rows) div c.n_runs").alias("avg_run_e4"))


_RLE_SQL = f"""
WITH li AS (
    SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
           {_sql_day('l_shipdate')} AS ship_day,
           l_orderkey // {DELTA_BLOCK_KEYS} AS blk
    FROM lineitem
),
marked AS (
    SELECT
        CASE WHEN lag(l_returnflag) OVER w IS NULL
              OR l_returnflag <> lag(l_returnflag) OVER w
             THEN 1 ELSE 0 END AS r_returnflag,
        CASE WHEN lag(l_linestatus) OVER w IS NULL
              OR l_linestatus <> lag(l_linestatus) OVER w
             THEN 1 ELSE 0 END AS r_linestatus,
        CASE WHEN lag(ship_day) OVER w IS NULL
              OR ship_day <> lag(ship_day) OVER w
             THEN 1 ELSE 0 END AS r_ship_day
    FROM li
    WINDOW w AS (PARTITION BY blk
                 ORDER BY l_orderkey, l_linenumber, l_returnflag,
                          l_linestatus, ship_day)
)
SELECT 'returnflag' AS column_name,
       CAST(sum(r_returnflag) AS BIGINT) AS n_runs,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(10000 * count(*) // sum(r_returnflag) AS BIGINT) AS avg_run_e4
FROM marked
UNION ALL
SELECT 'linestatus', CAST(sum(r_linestatus) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(10000 * count(*) // sum(r_linestatus) AS BIGINT)
FROM marked
UNION ALL
SELECT 'ship_day', CAST(sum(r_ship_day) AS BIGINT),
       CAST(count(*) AS BIGINT),
       CAST(10000 * count(*) // sum(r_ship_day) AS BIGINT)
FROM marked
"""


# --------------------------------------------------------------------------
# Skew-aware partition-size planner
# --------------------------------------------------------------------------
PART_TARGET_BYTES = 16_384
SKEW_FACTOR = 5
# events rows estimate: event_id + ts + user_id + value = 4×8 bytes fixed
_FIXED_ROW_BYTES = 32


def partition_size_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AQE-style shuffle planner: per grouping key, estimate the
    shuffled bytes (fixed column widths + live varchar lengths), plan
    ceil(bytes / PART_TARGET_BYTES) partitions, and flag skewed keys
    (> SKEW_FACTOR × mean key bytes — the AQE skew-join trigger
    shape). A synthetic hot key (30 % of rows folded into 'hot', the
    corpus-augmentation convention) exercises the skew branch
    deterministically at every scale factor.

    Determinism: byte estimates are integer sums; the skew threshold
    compares key_bytes against SKEW_FACTOR times the FLOORED mean
    (sum div count) — both engines floor identically, and the at-most
    SKEW_FACTOR−1-byte slack vs the exact mean is irrelevant at any
    real key size.

    Scale: one scan, one hash aggregation on the key, a broadcast
    1-row mean — exactly the statistics pass AQE runs on shuffle map
    output, expressed as a query so the plan can be reviewed BEFORE
    the 100 TB shuffle executes.
    """
    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        F.when(F.col("user_id") % 10 < 3, F.lit("hot"))
         .otherwise(F.col("event_type")).alias("key"),
        (F.lit(_FIXED_ROW_BYTES) + F.length("event_type")
         + F.length("props")).cast("long").alias("row_bytes"))
    per_key = keyed.groupBy("key").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("row_bytes").alias("key_bytes"))
    # per_key feeds both the plan rows and the mean — persist so the
    # events scan runs once (multi-branch persist rule, CLAUDE.md)
    per_key = persist(per_key)
    mean = F.broadcast(
        per_key.agg(F.expr("sum(key_bytes) div count(1)")
                    .alias("mean_bytes")))
    return (per_key.crossJoin(mean)
            .select("key",
                    F.col("n_rows").cast("long").alias("n_rows"),
                    F.col("key_bytes").cast("long").alias("key_bytes"),
                    F.expr(f"(key_bytes + {PART_TARGET_BYTES - 1}) "
                           f"div {PART_TARGET_BYTES}")
                    .alias("planned_parts"),
                    F.when(F.col("key_bytes")
                           > F.lit(SKEW_FACTOR) * F.col("mean_bytes"), 1)
                    .otherwise(0).cast("int").alias("is_skewed")))


_PLANNER_SQL = f"""
WITH keyed AS (
    SELECT CASE WHEN user_id % 10 < 3 THEN 'hot' ELSE event_type END AS key,
           CAST({_FIXED_ROW_BYTES} + length(event_type) + length(props)
                AS BIGINT) AS row_bytes
    FROM events
),
per_key AS (
    SELECT key, count(*) AS n_rows, sum(row_bytes) AS key_bytes
    FROM keyed GROUP BY key
),
mean AS (
    SELECT CAST(sum(key_bytes) // count(*) AS BIGINT) AS mean_bytes
    FROM per_key
)
SELECT key,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(key_bytes AS BIGINT) AS key_bytes,
       CAST((key_bytes + {PART_TARGET_BYTES - 1}) // {PART_TARGET_BYTES}
            AS BIGINT) AS planned_parts,
       CAST(CASE WHEN key_bytes > {SKEW_FACTOR} * mean_bytes
                 THEN 1 ELSE 0 END AS INT) AS is_skewed
FROM per_key CROSS JOIN mean
"""


QUERIES["compaction_bin_packing"] = (compaction_bin_packing, _FFD_SQL)
QUERIES["zonemap_skip_audit"] = (zonemap_skip_audit, _zonemap_sql())
QUERIES["delta_bitwidth_audit"] = (delta_bitwidth_audit, _DELTA_SQL)
QUERIES["rle_run_audit"] = (rle_run_audit, _RLE_SQL)
QUERIES["partition_size_planner"] = (partition_size_planner, _PLANNER_SQL)


# --------------------------------------------------------------------------
# file_bloom_skip_audit: per-file bloom-filter index, measured skip value
# --------------------------------------------------------------------------
BF_FILES = 64          # files in the simulated range layout
BF_BITS = 8192         # bloom bits per file
BF_HASHES = 3          # hash functions
BF_PROBES = 24         # probe panel size


def file_bloom_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value of a per-file bloom index (Parquet bloom filters / Delta
    bloom index): lay lineitem into ``BF_FILES`` orderkey-range files,
    build each file's bloom of its distinct l_partkey set (bit
    positions = seeded md5 of the key, ``BF_HASHES`` per key — the
    bloom is held RELATIONALLY as distinct (file, bit) rows, never a
    driver bitmap), then probe a ``BF_PROBES``-part panel: a file
    passes when all K of the probe's bits are set. Per probe part:
    files passed vs files truly containing it vs false passes — the
    measured file-skip rate that justifies (or kills) the index, plus
    saturation visible as false passes climb with per-file key counts.

    Determinism: bit positions are seeded md5 (the cross-engine
    idiom); file ids derive from broadcast max(orderkey)+1 (never a
    constant — id-namespace rule); the probe panel is the first
    BF_PROBES partkeys (TakeOrdered).

    Scale: the bloom build is one distinct + explode to ≤
    FILES·BITS rows (bounded by the index size, exactly like the real
    thing); probes join the panel (72 rows, broadcast) against the
    bit rows on the bit position — never against the corpus.
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    mx = F.broadcast(li.agg((F.max("l_orderkey") + 1).alias("okmax")))
    fp = (li.crossJoin(mx)
          .select(F.expr(f"(l_orderkey * {BF_FILES}) div okmax")
                   .alias("file_id"),
                  F.col("l_partkey").alias("pk"))
          .distinct())
    hashes = F.explode(F.array(*[F.lit(i) for i in range(BF_HASHES)]))
    bits = (fp.select("file_id", "pk", hashes.alias("h"))
            .select("file_id",
                    F.expr(f"cast(conv(substr(md5(concat('bf', h, ':',"
                           f" cast(pk as string))), 1, 12), 16, 10)"
                           f" as bigint) % {BF_BITS}").alias("bit"))
            .distinct())
    panel = (load(spark, sf_dir, "part").select("p_partkey")
             .orderBy("p_partkey").limit(BF_PROBES))
    pbits = (panel.select("p_partkey", hashes.alias("h"))
             .select("p_partkey", F.col("h"),
                     F.expr(f"cast(conv(substr(md5(concat('bf', h, ':',"
                            f" cast(p_partkey as string))), 1, 12), 16, 10)"
                            f" as bigint) % {BF_BITS}").alias("bit")))
    passed = (bits.join(F.broadcast(pbits), "bit")
              .groupBy("p_partkey", "file_id")
              .agg(F.countDistinct("h").alias("nh"))
              .where(F.col("nh") == BF_HASHES)
              .groupBy("p_partkey")
              .agg(F.count(F.lit(1)).cast("long").alias("files_passed")))
    truth = (fp.join(F.broadcast(panel),
                     fp.pk == panel.p_partkey)
             .groupBy("p_partkey")
             .agg(F.countDistinct("file_id").cast("long")
                   .alias("files_true")))
    return (panel.join(passed, "p_partkey", "left")
            .join(truth, "p_partkey", "left")
            .select("p_partkey",
                    F.coalesce("files_passed", F.lit(0)).alias("files_passed"),
                    F.coalesce("files_true", F.lit(0)).alias("files_true"),
                    (F.coalesce("files_passed", F.lit(0))
                     - F.coalesce("files_true", F.lit(0)))
                    .alias("false_passes"),
                    (F.lit(BF_FILES) - F.coalesce("files_passed", F.lit(0)))
                    .cast("long").alias("files_skipped")))


_BLOOM_SKIP_SQL = f"""
WITH mx AS (SELECT max(l_orderkey) + 1 AS okmax FROM lineitem),
fp AS (
  SELECT DISTINCT (l_orderkey * {BF_FILES}) // okmax AS file_id,
         l_partkey AS pk
  FROM lineitem CROSS JOIN mx
),
hs AS (SELECT unnest(range(0, {BF_HASHES})) AS h),
bits AS (
  SELECT DISTINCT file_id,
         CAST('0x' || substr(md5('bf' || CAST(h AS VARCHAR) || ':'
              || CAST(pk AS VARCHAR)), 1, 12) AS BIGINT) % {BF_BITS} AS bit
  FROM fp CROSS JOIN hs
),
panel AS (
  SELECT p_partkey FROM part ORDER BY p_partkey LIMIT {BF_PROBES}
),
pbits AS (
  SELECT p_partkey, h,
         CAST('0x' || substr(md5('bf' || CAST(h AS VARCHAR) || ':'
              || CAST(p_partkey AS VARCHAR)), 1, 12) AS BIGINT) % {BF_BITS}
             AS bit
  FROM panel CROSS JOIN hs
),
passed AS (
  SELECT p_partkey, CAST(count(*) AS BIGINT) AS files_passed
  FROM (
    SELECT pb.p_partkey, b.file_id, count(DISTINCT pb.h) AS nh
    FROM bits b JOIN pbits pb USING (bit)
    GROUP BY 1, 2
  ) WHERE nh = {BF_HASHES}
  GROUP BY 1
),
truth AS (
  SELECT p.p_partkey, CAST(count(DISTINCT f.file_id) AS BIGINT)
             AS files_true
  FROM fp f JOIN panel p ON f.pk = p.p_partkey
  GROUP BY 1
)
SELECT pa.p_partkey,
       CAST(coalesce(ps.files_passed, 0) AS BIGINT) AS files_passed,
       CAST(coalesce(t.files_true, 0) AS BIGINT) AS files_true,
       CAST(coalesce(ps.files_passed, 0) - coalesce(t.files_true, 0)
            AS BIGINT) AS false_passes,
       CAST({BF_FILES} - coalesce(ps.files_passed, 0) AS BIGINT)
           AS files_skipped
FROM panel pa
LEFT JOIN passed ps USING (p_partkey)
LEFT JOIN truth t USING (p_partkey)
"""


QUERIES["file_bloom_skip_audit"] = (file_bloom_skip_audit, _BLOOM_SKIP_SQL)


# --------------------------------------------------------------------------
# denormalization_cost_audit: star schema vs one wide table, priced in bytes
# --------------------------------------------------------------------------
_DN_STR = {
    "lineitem": ("l_returnflag", "l_linestatus"),
    "orders": ("o_orderstatus", "o_orderpriority"),
    "customer": ("c_name", "c_mktsegment"),
    "part": ("p_name", "p_brand", "p_type"),
    "supplier": ("s_name",),
}
_DN_NUM = {  # 8-byte numeric/date columns carried by each table
    "lineitem": 9, "orders": 4, "customer": 3, "part": 3, "supplier": 3,
}


def denormalization_cost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lakehouse-design question priced exactly: how many bytes
    does denormalizing the star (lineitem ⋈ orders ⋈ customer ⋈ part
    ⋈ supplier) into ONE wide table cost versus keeping the star?
    Per-row bytes = Σ length(string cols) + 8·numeric cols (the
    uncompressed-row model; length == bytes on this ASCII corpus, and
    DuckDB 1.0 has no octet_length for VARCHAR); the wide total NEVER materializes the
    wide table — each dimension's contribution is its per-row bytes
    weighted by how many fact rows join to it (a count-weighted sum).
    Output per table: star bytes, wide-contribution bytes, and the
    amplification factor e6.

    Scale: one scan per table for byte sums; the fact-weighting is a
    keyed count aggregate joined to per-row dim bytes (hash joins on
    the keys — dims are NOT assumed broadcastable); the report is
    |tables| rows.
    """
    def row_bytes(tbl, alias):
        cols = [f"length({c})" for c in _DN_STR[tbl]]
        cols.append(str(8 * _DN_NUM[tbl]))
        return F.expr(" + ".join(cols)).cast("long").alias(alias)

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        row_bytes("lineitem", "rb"))
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", row_bytes("orders", "rb"))
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", row_bytes("customer", "rb"))
    part = load(spark, sf_dir, "part").select(
        "p_partkey", row_bytes("part", "rb"))
    supp = load(spark, sf_dir, "supplier").select(
        "s_suppkey", row_bytes("supplier", "rb"))

    star = {t: df.agg(F.sum("rb").cast("long").alias("sb"),
                      F.count(F.lit(1)).cast("long").alias("n"))
            for t, df in (("lineitem", li), ("orders", orders),
                          ("customer", cust), ("part", part),
                          ("supplier", supp))}
    # fact-rows-per-key weights
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("w"))
    o_w = (orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
           .select("o_custkey", "rb", "w"))
    wide_orders = o_w.agg(F.sum(F.col("rb") * F.col("w")).cast("long")
                          .alias("wb"))
    per_cust = o_w.groupBy("o_custkey").agg(F.sum("w").alias("w"))
    wide_cust = (cust.join(per_cust, cust.c_custkey == per_cust.o_custkey)
                 .agg(F.sum(F.col("rb") * F.col("w")).cast("long")
                       .alias("wb")))
    per_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("w"))
    wide_part = (part.join(per_part, part.p_partkey == per_part.l_partkey)
                 .agg(F.sum(F.col("rb") * F.col("w")).cast("long")
                       .alias("wb")))
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("w"))
    wide_supp = (supp.join(per_supp, supp.s_suppkey == per_supp.l_suppkey)
                 .agg(F.sum(F.col("rb") * F.col("w")).cast("long")
                       .alias("wb")))
    wide_li = li.agg(F.sum("rb").cast("long").alias("wb"))

    wides = {"lineitem": wide_li, "orders": wide_orders,
             "customer": wide_cust, "part": wide_part,
             "supplier": wide_supp}
    out = None
    for t in ("lineitem", "orders", "customer", "part", "supplier"):
        row = (star[t].crossJoin(F.broadcast(wides[t]))
               .select(F.lit(t).alias("table_name"),
                       F.col("sb").alias("star_bytes"),
                       F.col("wb").alias("wide_bytes"),
                       F.expr("(1000000 * wb) div sb")
                        .alias("amplification_e6")))
        out = row if out is None else out.unionByName(row)
    return out


def _dn_sql() -> str:
    def rb(tbl):
        cols = [f"length({c})" for c in _DN_STR[tbl]]
        cols.append(str(8 * _DN_NUM[tbl]))
        return " + ".join(cols)

    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey, l_suppkey,
         CAST({rb('lineitem')} AS BIGINT) AS rb
  FROM lineitem
),
o AS (SELECT o_orderkey, o_custkey, CAST({rb('orders')} AS BIGINT) AS rb
      FROM orders),
c AS (SELECT c_custkey, CAST({rb('customer')} AS BIGINT) AS rb
      FROM customer),
p AS (SELECT p_partkey, CAST({rb('part')} AS BIGINT) AS rb FROM part),
s AS (SELECT s_suppkey, CAST({rb('supplier')} AS BIGINT) AS rb
      FROM supplier),
per_order AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS w
              FROM li GROUP BY 1),
o_w AS (
  SELECT o.o_custkey, o.rb, po.w
  FROM o JOIN per_order po ON o.o_orderkey = po.l_orderkey
),
per_cust AS (SELECT o_custkey, CAST(sum(w) AS BIGINT) AS w
             FROM o_w GROUP BY 1),
per_part AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS w
             FROM li GROUP BY 1),
per_supp AS (SELECT l_suppkey, CAST(count(*) AS BIGINT) AS w
             FROM li GROUP BY 1)
SELECT 'lineitem' AS table_name,
       CAST((SELECT sum(rb) FROM li) AS BIGINT) AS star_bytes,
       CAST((SELECT sum(rb) FROM li) AS BIGINT) AS wide_bytes,
       (1000000 * CAST((SELECT sum(rb) FROM li) AS BIGINT))
           // CAST((SELECT sum(rb) FROM li) AS BIGINT) AS amplification_e6
UNION ALL
SELECT 'orders',
       CAST((SELECT sum(rb) FROM o) AS BIGINT),
       CAST((SELECT sum(rb * w) FROM o_w) AS BIGINT),
       (1000000 * CAST((SELECT sum(rb * w) FROM o_w) AS BIGINT))
           // CAST((SELECT sum(rb) FROM o) AS BIGINT)
UNION ALL
SELECT 'customer',
       CAST((SELECT sum(rb) FROM c) AS BIGINT),
       CAST((SELECT sum(c.rb * pc.w) FROM c
             JOIN per_cust pc ON c.c_custkey = pc.o_custkey) AS BIGINT),
       (1000000 * CAST((SELECT sum(c.rb * pc.w) FROM c
            JOIN per_cust pc ON c.c_custkey = pc.o_custkey) AS BIGINT))
           // CAST((SELECT sum(rb) FROM c) AS BIGINT)
UNION ALL
SELECT 'part',
       CAST((SELECT sum(rb) FROM p) AS BIGINT),
       CAST((SELECT sum(p.rb * pp.w) FROM p
             JOIN per_part pp ON p.p_partkey = pp.l_partkey) AS BIGINT),
       (1000000 * CAST((SELECT sum(p.rb * pp.w) FROM p
            JOIN per_part pp ON p.p_partkey = pp.l_partkey) AS BIGINT))
           // CAST((SELECT sum(rb) FROM p) AS BIGINT)
UNION ALL
SELECT 'supplier',
       CAST((SELECT sum(rb) FROM s) AS BIGINT),
       CAST((SELECT sum(s.rb * ps.w) FROM s
             JOIN per_supp ps ON s.s_suppkey = ps.l_suppkey) AS BIGINT),
       (1000000 * CAST((SELECT sum(s.rb * ps.w) FROM s
            JOIN per_supp ps ON s.s_suppkey = ps.l_suppkey) AS BIGINT))
           // CAST((SELECT sum(rb) FROM s) AS BIGINT)
"""


QUERIES["denormalization_cost_audit"] = (
    denormalization_cost_audit, _dn_sql())


# --------------------------------------------------------------------------
# Hive-style partition pruning roundtrip (write partitioned, read pruned)
# --------------------------------------------------------------------------

def partition_pruning_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """End-to-end PARTITION pruning demonstration: stage the event
    stream as hive-partitioned parquet (`event_type=.../`), then
    answer a single-type daily rollup from the staged layout. The
    filter lands as a PartitionFilter — the reader lists ONE of five
    directories and never opens the other four — which is the
    mechanism (distinct from row-group PushedFilters, which the audit
    already pins elsewhere) that makes selective scans on a 100 TB
    lake O(selected-partition) instead of O(corpus). The plan
    contract in tests/test_round8_invariants.py asserts the
    PartitionFilters entry is present and non-empty.

    Determinism: the staged data is byte-identical to the source rows
    (cents + epoch-day recomputed after the roundtrip); the oracle
    answers the same rollup straight from the source table.

    Scale: one partitioned write (5 hash-partition dirs — at 100 TB
    the partition column would be (event_type, day)), one pruned scan,
    one keyed aggregate. Staged files are removed by tables.release().
    """
    import shutil
    import uuid
    from functools import partial
    from urllib.parse import urlparse

    base = spark.conf.get("spark.sql.warehouse.dir")
    workdir = f"{base.rstrip('/')}/_part_prune/{uuid.uuid4().hex}"
    local_dir = urlparse(workdir).path if workdir.startswith("file:") \
        else (None if "://" in workdir else workdir)

    ev = load(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.expr("cast(round(value * 100, 0) as bigint)").alias("cents"),
        F.expr(f"unix_micros(cast(ts as timestamp)) div {US_PER_DAY}")
        .alias("day"))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(workdir)
    if local_dir is not None:
        on_release(partial(shutil.rmtree, local_dir, ignore_errors=True))
    staged = spark.read.parquet(workdir)
    return (staged.where(F.col("event_type") == "purchase")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("cents_sum")))


_PART_PRUNE_SQL = f"""
SELECT epoch_us(ts) // {US_PER_DAY} AS day,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
           AS cents_sum
FROM events
WHERE event_type = 'purchase'
GROUP BY 1
"""

QUERIES["partition_pruning_roundtrip"] = (partition_pruning_roundtrip,
                                          _PART_PRUNE_SQL)


# ---------------------------------------------------------------------------
# lsm_compaction_replay (round 11): leveled vs tiered write amplification
# ---------------------------------------------------------------------------
# O'Neil LSM-tree cost model replayed against the actual daily ingest
# curve: every day's row volume is one memtable flush; LEVELED merges a
# level into the next (rewriting the destination) whenever it exceeds
# its cap BASE * T^k; TIERED stacks up to T runs per level and merges
# them down when full. Total bytes written / bytes ingested is the
# write amplification a storage engineer compares before choosing a
# compaction policy for an append-heavy event table.
_LSM_T = 4            # size ratio / runs-per-level fanout
_LSM_BASE = 400       # L1 cap in rows (memtable-sized)
_LSM_LEVELS = 4       # L1..L4; L4 uncapped (bottom level)


def lsm_compaction_replay(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Write-amplification replay of the events table's daily ingest
    under leveled vs tiered compaction (one row per policy): total
    rows ingested, total rows written (including every compaction
    rewrite), write amplification (e4), number of flush days, and the
    final per-level occupancy L1..L4.

    Both policies are LEFT FOLDS over the same (day, stage) element
    list — stage 0 applies the flush, stages 1..3 test-and-cascade one
    level each, so the within-day cascade is sequenced by the element
    order instead of nested assignments. Accumulators are single flat
    BIGINT lists (leveled: [written, l1..l4]; tiered:
    [written, bytes_k, runs_k x 4]) — the verified-safe fold shape.

    Determinism: pure integers; day spine from integer epoch-day
    arithmetic.

    Scale: one events scan reduced map-side to |days| rows; the fold
    runs over |days| * 4 elements in ONE row — calendar-bounded (the
    kalman/day-spine contract), independent of row volume. At 100 TB
    only the per-day aggregate grows; the replay stays a driver-sized
    list.
    """
    days = (load(spark, sf_dir, "events")
            .select(_day("ts").alias("d"))
            .groupBy("d")
            .agg(F.count(F.lit(1)).cast("long").alias("f")))
    cells = (days.select("d", "f", F.explode(F.sequence(
                 F.lit(0), F.lit(_LSM_LEVELS - 1))).alias("stage"))
             .groupBy()
             .agg(F.sort_array(F.collect_list(F.struct(
                      "d", F.col("stage").cast("long").alias("s"),
                      "f"))).alias("xs"),
                  F.sum(F.when(F.col("stage") == 0, F.col("f"))
                        .otherwise(0)).cast("long").alias("ingested"),
                  F.sum(F.when(F.col("stage") == 0, 1).otherwise(0))
                   .cast("long").alias("n_days")))
    caps = {k: _LSM_BASE * _LSM_T ** (k - 1)
            for k in range(1, _LSM_LEVELS)}
    lvl_step = " ".join(
        f"WHEN x.s = {k} THEN CASE WHEN element_at(acc, {k + 1})"
        f" > {caps[k]} THEN transform(sequence(1, {_LSM_LEVELS + 1}),"
        f" i -> CASE WHEN i = 1 THEN element_at(acc, 1)"
        f" + element_at(acc, {k + 1}) + element_at(acc, {k + 2})"
        f" WHEN i = {k + 1} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {k + 2} THEN element_at(acc, {k + 1})"
        f" + element_at(acc, {k + 2})"
        f" ELSE element_at(acc, i) END)"
        f" ELSE acc END"
        for k in range(1, _LSM_LEVELS))
    leveled = F.expr(f"""
      aggregate(xs, array_repeat(CAST(0 AS BIGINT), {_LSM_LEVELS + 1}),
        (acc, x) -> CASE WHEN x.s = 0 THEN
            transform(sequence(1, {_LSM_LEVELS + 1}), i ->
              CASE WHEN i = 1 THEN element_at(acc, 1) + x.f
                   WHEN i = 2 THEN element_at(acc, 2) + x.f
                   ELSE element_at(acc, i) END)
          {lvl_step} ELSE acc END)
    """)
    # tiered acc layout (1-based): [written, b1, r1, b2, r2, b3, r3,
    # b4, r4]
    tier_step = " ".join(
        f"WHEN x.s = {k} THEN CASE WHEN element_at(acc, {2 * k + 1})"
        f" >= {_LSM_T} THEN transform(sequence(1, {2 * _LSM_LEVELS + 1}),"
        f" i -> CASE WHEN i = 1 THEN element_at(acc, 1)"
        f" + element_at(acc, {2 * k})"
        f" WHEN i = {2 * k} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {2 * k + 1} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {2 * k + 2} THEN element_at(acc, {2 * k + 2})"
        f" + element_at(acc, {2 * k})"
        f" WHEN i = {2 * k + 3} THEN element_at(acc, {2 * k + 3}) + 1"
        f" ELSE element_at(acc, i) END)"
        f" ELSE acc END"
        for k in range(1, _LSM_LEVELS))
    tiered = F.expr(f"""
      aggregate(xs,
        array_repeat(CAST(0 AS BIGINT), {2 * _LSM_LEVELS + 1}),
        (acc, x) -> CASE WHEN x.s = 0 THEN
            transform(sequence(1, {2 * _LSM_LEVELS + 1}), i ->
              CASE WHEN i = 1 THEN element_at(acc, 1) + x.f
                   WHEN i = 2 THEN element_at(acc, 2) + x.f
                   WHEN i = 3 THEN element_at(acc, 3) + 1
                   ELSE element_at(acc, i) END)
          {tier_step} ELSE acc END)
    """)
    base = (cells.withColumn("lv", leveled).withColumn("tr", tiered))
    lv_levels = [f"element_at(lv, {k + 1}) AS l{k}"
                 for k in range(1, _LSM_LEVELS + 1)]
    tr_levels = [f"element_at(tr, {2 * k}) AS l{k}"
                 for k in range(1, _LSM_LEVELS + 1)]
    lv_row = base.selectExpr(
        "'leveled' AS policy", "ingested", "n_days",
        "element_at(lv, 1) AS total_written", *lv_levels)
    tr_row = base.selectExpr(
        "'tiered' AS policy", "ingested", "n_days",
        "element_at(tr, 1) AS total_written", *tr_levels)
    return (lv_row.unionByName(tr_row)
            .withColumn("write_amp_e4",
                        F.expr("(10000 * total_written)"
                               " div greatest(ingested, 1)")))


def _lsm_sql() -> str:
    L, T = _LSM_LEVELS, _LSM_T
    caps = {k: _LSM_BASE * T ** (k - 1) for k in range(1, L)}
    lvl_step = " ".join(
        f"WHEN e[1] = {k} THEN CASE WHEN acc[{k + 1}] > {caps[k]}"
        f" THEN list_transform(range(1, {L + 1} + 1), i ->"
        f" CASE WHEN i = 1 THEN acc[1] + acc[{k + 1}] + acc[{k + 2}]"
        f" WHEN i = {k + 1} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {k + 2} THEN acc[{k + 1}] + acc[{k + 2}]"
        f" ELSE acc[i] END)"
        f" ELSE acc END"
        for k in range(1, L))
    tier_step = " ".join(
        f"WHEN e[1] = {k} THEN CASE WHEN acc[{2 * k + 1}] >= {T}"
        f" THEN list_transform(range(1, {2 * L + 1} + 1), i ->"
        f" CASE WHEN i = 1 THEN acc[1] + acc[{2 * k}]"
        f" WHEN i = {2 * k} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {2 * k + 1} THEN CAST(0 AS BIGINT)"
        f" WHEN i = {2 * k + 2} THEN acc[{2 * k + 2}] + acc[{2 * k}]"
        f" WHEN i = {2 * k + 3} THEN acc[{2 * k + 3}] + 1"
        f" ELSE acc[i] END)"
        f" ELSE acc END"
        for k in range(1, L))
    zeros_l = ", ".join(["CAST(0 AS BIGINT)"] * (L + 1))
    zeros_t = ", ".join(["CAST(0 AS BIGINT)"] * (2 * L + 1))
    lv_levels = ", ".join(f"lv[{k + 1}] AS l{k}"
                          for k in range(1, L + 1))
    tr_levels = ", ".join(f"tr[{2 * k}] AS l{k}"
                          for k in range(1, L + 1))
    return f"""
WITH days AS (
    SELECT {_sql_day('ts')} AS d, CAST(count(*) AS BIGINT) AS f
    FROM events GROUP BY 1
),
cells AS (
    SELECT d, CAST(s.stage AS BIGINT) AS s, f
    FROM days, range(0, {L}) s(stage)
),
packed AS (
    SELECT list_sort(list([d, s, f])) AS xs,
           CAST(sum(CASE WHEN s = 0 THEN f ELSE 0 END) AS BIGINT)
               AS ingested,
           CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_days
    FROM cells
),
folded AS (
    SELECT ingested, n_days,
           list_reduce(
             list_prepend([{zeros_l}],
                          list_transform(xs, x -> [x[2], x[3]])),
             (acc, e) -> CASE WHEN e[1] = 0 THEN
                 list_transform(range(1, {L + 1} + 1), i ->
                   CASE WHEN i = 1 THEN acc[1] + e[2]
                        WHEN i = 2 THEN acc[2] + e[2]
                        ELSE acc[i] END)
               {lvl_step} ELSE acc END) AS lv,
           list_reduce(
             list_prepend([{zeros_t}],
                          list_transform(xs, x -> [x[2], x[3]])),
             (acc, e) -> CASE WHEN e[1] = 0 THEN
                 list_transform(range(1, {2 * L + 1} + 1), i ->
                   CASE WHEN i = 1 THEN acc[1] + e[2]
                        WHEN i = 2 THEN acc[2] + e[2]
                        WHEN i = 3 THEN acc[3] + 1
                        ELSE acc[i] END)
               {tier_step} ELSE acc END) AS tr
    FROM packed
)
SELECT policy, ingested, n_days, total_written,
       l1, l2, l3, l4,
       (10000 * total_written) // greatest(ingested, 1)
           AS write_amp_e4
FROM (
    SELECT 'leveled' AS policy, ingested, n_days,
           lv[1] AS total_written, {lv_levels}
    FROM folded
    UNION ALL
    SELECT 'tiered' AS policy, ingested, n_days,
           tr[1] AS total_written, {tr_levels}
    FROM folded
)
"""


QUERIES["lsm_compaction_replay"] = (lsm_compaction_replay, _lsm_sql())
