"""Warehouse write path: keyed upsert with version counters and
last-writer-wins temporal guard, and delete-with-history (CDC).

Reference semantics:
- SRC-11 upsert (`database_insert.py:11-46`): INSERT … ON CONFLICT(key)
  DO UPDATE SET …, version = version + 1, update_date_time = now()
- SRC-12 temporal guard (`alma_publish_to_database.py:124`): the update
  applies only when the stored row is older (webhook-vs-publish races,
  OP-ST3)
- OP-ST6 CDC (`ddl/data_sync_db.sql:511-560`): delete triggers append
  (record_type, mms_id, record_id) history rows; holding deletes cascade
  to items

Spark-first restatement: OSS Spark writers are append/overwrite, so the
MERGE is expressed as a full-outer DataFrame merge and the table is
rewritten (on Delta/Iceberg this maps 1:1 onto `MERGE WHEN MATCHED AND
s.ts > t.ts`). Scale notes: one shuffle on the key for the outer join;
incoming is deduped to latest-per-key first (required — SQL MERGE raises
on duplicate matches, and the reference's per-row loop silently
last-writes); at 100 TB the rewrite becomes partition-overwrite on a
bucketed/partitioned key so only touched partitions rewrite.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .relational import latest_per_key

AUDIT = ("create_date_time", "update_date_time", "version")


def merge_upsert(stored: DataFrame, incoming: DataFrame, keys: Sequence[str],
                 ts_col: str) -> DataFrame:
    """Batch MERGE: returns the post-merge table.

    - new keys insert with version=1, create=update=incoming ts
    - matched keys update only when incoming is strictly newer (the
      temporal guard) — version increments, create_date_time is preserved
    - unmatched stored rows pass through
    """
    incoming = latest_per_key(incoming, keys, ts_col)
    value_cols = [c for c in incoming.columns if c not in keys]

    s = stored
    i = incoming
    for c in value_cols:
        i = i.withColumnRenamed(c, f"_in_{c}")

    joined = s.join(i, on=list(keys), how="full_outer")
    is_insert = F.col(ts_col).isNull()          # no stored row
    in_ts = F.col(f"_in_{ts_col}")
    has_incoming = in_ts.isNotNull()
    take_incoming = is_insert | (has_incoming & (in_ts > F.col(ts_col)))

    out_cols = [F.col(k) for k in keys]
    for c in value_cols:
        if c in AUDIT:
            continue
        out_cols.append(
            F.when(take_incoming, F.col(f"_in_{c}")).otherwise(F.col(c))
             .alias(c))
    out_cols.extend([
        F.when(is_insert, in_ts)
         .otherwise(F.col("create_date_time")).alias("create_date_time")
        if "create_date_time" in s.columns else
        in_ts.alias("create_date_time"),
        F.when(take_incoming, in_ts)
         .otherwise(F.col("update_date_time")).alias("update_date_time")
        if "update_date_time" in s.columns else
        in_ts.alias("update_date_time"),
        F.when(is_insert, F.lit(1).cast("long"))
         .when(take_incoming, F.col("version") + 1)
         .otherwise(F.col("version")).alias("version")
        if "version" in s.columns else
        F.lit(1).cast("long").alias("version"),
    ])
    return joined.select(*out_cols)


def insert_ignore(stored: DataFrame, incoming: DataFrame,
                  keys: Sequence[str], ts_col: str) -> DataFrame:
    """SRC-11 `no_updates` variant (ON CONFLICT DO NOTHING,
    database_insert.py:26-46): existing keys keep their rows."""
    incoming = latest_per_key(incoming, keys, ts_col)
    fresh = incoming.join(stored.select(*keys), on=list(keys), how="left_anti")
    fresh = (fresh
             .withColumn("create_date_time", F.col(ts_col))
             .withColumn("update_date_time", F.col(ts_col))
             .withColumn("version", F.lit(1).cast("long")))
    return stored.unionByName(fresh.select(*stored.columns))


def delete_with_history(stored: DataFrame, delete_keys: DataFrame,
                        key: str, record_type: str,
                        mms_col: str = "mms_id") -> tuple[DataFrame, DataFrame]:
    """OP-ST6: (survivors, history). History rows mirror deleted_record
    (record_type, mms_id, record_id) — the delete-trigger payload."""
    doomed = stored.join(delete_keys.select(key).dropDuplicates([key]),
                         on=key, how="left_semi")
    survivors = stored.join(delete_keys.select(key).dropDuplicates([key]),
                            on=key, how="left_anti")
    history = doomed.select(
        F.lit(record_type).alias("record_type"),
        (F.col(mms_col) if mms_col in stored.columns else F.lit(None))
        .cast("string").alias("mms_id"),
        F.col(key).cast("string").alias("record_id"),
    )
    return survivors, history


def cascade_delete_holdings(holdings: DataFrame, items: DataFrame,
                            holding_keys: DataFrame
                            ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Holding delete cascading to items (FK ON DELETE CASCADE +
    both triggers, ddl/data_sync_db.sql:416-442,511-560).
    Returns (surviving_holdings, surviving_items, history)."""
    surv_h, hist_h = delete_with_history(
        holdings, holding_keys, "holding_id", "holding")
    doomed_items = items.join(holding_keys.select("holding_id").dropDuplicates(),
                              on="holding_id", how="left_semi")
    surv_i = items.join(holding_keys.select("holding_id").dropDuplicates(),
                        on="holding_id", how="left_anti")
    hist_i = doomed_items.select(
        F.lit("item").alias("record_type"),
        F.col("mms_id").cast("string").alias("mms_id"),
        F.col("pid").cast("string").alias("record_id"),
    )
    return surv_h, surv_i, hist_h.unionByName(hist_i)


def stale_holdings_for_published_bibs(stored_holdings: DataFrame,
                                      published_bibs: DataFrame,
                                      incoming_holdings: DataFrame) -> DataFrame:
    """OP-J2 (`alma_publish_to_database.py:139-143`): holdings stored
    under a republished bib but absent from the incoming publish are the
    per-bib delete set (holding_id != ALL(incoming))."""
    in_scope = stored_holdings.join(
        published_bibs.select("mms_id").dropDuplicates(["mms_id"]),
        on="mms_id", how="left_semi")
    return in_scope.join(
        incoming_holdings.select("holding_id").dropDuplicates(["holding_id"]),
        on="holding_id", how="left_anti")
