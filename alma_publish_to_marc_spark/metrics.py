"""Run counters and metrics (OP-A1, SRC-17).

The reference tallies files/records/bibs/holdings/items/deletes/errors
per run and ships them to CloudWatch (`alma_publish_parser.py:20-28`,
`metrics/aws_metrics.py:13-30`). Engine-side the counters are computed
from the split outputs with one action (counts are action results, not
mutable globals), and the emitter is pluggable — a boto3
CloudWatch emitter when available, else log-only.
"""

from __future__ import annotations

import json
import logging
import time
from collections.abc import Callable
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

logger = logging.getLogger(__name__)


def run_counters(split_outputs: dict[str, DataFrame]) -> dict[str, int]:
    """cnt_bibs/holdings/items/errors (+ records and files from the
    split's per-record `records` rows) in one action: a cross join of
    one-row aggregates, whose independent stages run concurrently."""
    counts = [split_outputs[name].agg(F.count(F.lit(1)).alias(key))
              for name, key in (("bibs", "cnt_bibs"),
                                ("holdings", "cnt_holdings"),
                                ("items", "cnt_items"),
                                ("errors", "cnt_errors"))]
    counts.append(split_outputs["records"].agg(
        F.count(F.lit(1)).alias("cnt_records"),
        F.countDistinct("source_file").alias("cnt_files")))
    return reduce(DataFrame.crossJoin, counts).collect()[0].asDict()


def throughput(count: int, elapsed_seconds: float) -> float:
    """OP-A9/OP-F19 (`alma_analytics_to_item_status.py:75-77`): the
    reference's only arithmetic — counters, records/sec, mod-1000."""
    return count / elapsed_seconds if elapsed_seconds > 0 else 0.0


def log_emitter(namespace: str = "datasync") -> Callable[[dict], None]:
    def emit(counters: dict) -> None:
        logger.info("%s metrics: %s", namespace, json.dumps(counters))
    return emit


def cloudwatch_emitter(namespace: str = "datasync",
                       dimension: tuple[str, str] = ("Application", "datasync")
                       ) -> Callable[[dict], None]:
    """SRC-17 (`metrics/aws_metrics.py:13-30`): per-run counts with one
    dimension. Import-gated — boto3/credentials absent → raises at
    construction so callers fall back to log_emitter."""
    import boto3

    client = boto3.client("cloudwatch")

    def emit(counters: dict) -> None:
        client.put_metric_data(
            Namespace=namespace,
            MetricData=[{
                "MetricName": name,
                "Dimensions": [{"Name": dimension[0], "Value": dimension[1]}],
                "Timestamp": time.time(),
                "Value": value, "Unit": "Count",
            } for name, value in counters.items()])
    return emit
