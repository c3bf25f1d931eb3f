"""Structured Streaming ingest (SURVEY.md §2.9).

- OP-ST1: the reference drains timestamped `incremental-*` SFTP drops
  per run; here the landing dir is a `binaryFile` stream with
  `trigger(availableNow=True)` — one run drains everything pending,
  checkpointed so each file is applied once, including a drop that lands
  late under an earlier-sorting name. The stream reads only each file's
  path and modification time; the content column is pruned.
- OP-ST5: each micro-batch's files are grouped into publish sets by
  name prefix with the reference's `file_prefix` rule (SRC-5,
  `sources.source_queries.publish_set_prefix`: strip `_<kind>_<n>.tar.gz`,
  then `_<kind>.tar.gz`; any other file is a set of its own). Each set
  is applied by the nightly sync itself,
  `plans.pipeline.run_publish_pipeline`, one set at a time in name
  order. Within a set, its delete manifests (SRC-6) apply after its
  upserts, as in the reference.
- OP-ST3: a set's `batch_ts` is its latest file modification time, so
  a replayed batch merges with the same timestamps, and the strict
  timestamp guard of `operators.upsert.merge_upsert` makes the replay
  change nothing.
- OP-ST4: duplicates within a set collapse to the latest per key in
  the merge; across sets the guarded merge keeps the newest.
- OP-ST2 (SFTP stability gate) is unnecessary for local/HDFS sources —
  file-source listing is atomic; a driver-side gate stays in front only
  when pulling from SFTP (sources beyond Spark's reach).

The stream and the nightly run share one code path, so they write the
same warehouse from the same sets (tested in
tests/test_upsert_streaming.py).
"""

from __future__ import annotations

import os
from collections import defaultdict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.pipeline import run_publish_pipeline
from ..sources.source_queries import publish_set_prefix


def run_incremental_ingest(spark: SparkSession, landing_dir: str,
                           warehouse_dir: str,
                           checkpoint_dir: str | None = None,
                           location: DataFrame | None = None) -> None:
    """Drain the landing dir once (availableNow) into the warehouse,
    one publish set at a time through `run_publish_pipeline`."""
    checkpoint_dir = checkpoint_dir or os.path.join(warehouse_dir,
                                                    "_checkpoint")
    files = (spark.readStream.format("binaryFile")
             .schema("path string, modificationTime timestamp, "
                     "length long, content binary")
             .load(landing_dir)
             .select(publish_set_prefix(F.col("path")), "path",
                     "modificationTime"))

    def apply_sets(batch_df: DataFrame, batch_id: int) -> None:
        sets = defaultdict(list)
        for prefix, path, mtime in batch_df.collect():
            sets[prefix].append((path, mtime))
        for prefix in sorted(sets):
            paths, mtimes = zip(*sets[prefix])
            run_publish_pipeline(spark, list(paths), warehouse_dir,
                                 max(mtimes), location)

    (files.writeStream
     .foreachBatch(apply_sets)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())


# --- §3.3 analytics TSV → item_base_status pipeline ------------------------
def read_analytics_tsv(spark: SparkSession, path: str) -> DataFrame:
    """SRC-7 (`alma_analytics_to_item_status.py:37-39`): UTF-16 TSV,
    headerless, positional columns."""
    cols = ["pid", "due_date", "status", "active", "process_type",
            "process_status", "renewal_date", "loan_date"]
    df = (spark.read
          .option("sep", "\t").option("header", "false")
          .option("encoding", "UTF-16")
          .csv(path))
    for i, name in enumerate(cols):
        df = df.withColumnRenamed(f"_c{i}", name)
    return df


def analytics_status_updates(tsv: DataFrame) -> DataFrame:
    """§3.3 transform chain: keep 'Item not in place' (OP-P6) → first
    row per pid in file order (OP-A7/W2) → filter Active, uppercase
    process_type (OP-F13), null-normalize empties (OP-P10).

    File order proxy: monotonically_increasing_id is monotone within a
    partition and the reference's files are single-split TSVs; for
    multi-split inputs pair with input_file_name ordering."""
    from ..functions.scalars import presence

    with_order = tsv.withColumn("_ord", F.monotonically_increasing_id())
    first = (with_order
             .where(F.col("status") == "Item not in place")
             .withColumn("_rn", F.row_number().over(
                 Window.partitionBy("pid").orderBy("_ord")))
             .where(F.col("_rn") == 1))
    return (first.where(F.col("active") == "Active")
            .select(
                "pid",
                F.lit("1").alias("status_code"),
                F.upper(presence(F.col("process_type"))).alias("process_type"),
                presence(F.col("process_status")).alias("process_status"),
                F.to_timestamp(presence(F.col("due_date"))).alias("due_date"),
                F.to_timestamp(presence(F.col("loan_date"))).alias("loan_date"),
                F.to_timestamp(presence(F.col("renewal_date")))
                 .alias("renewal_date"),
            ))
