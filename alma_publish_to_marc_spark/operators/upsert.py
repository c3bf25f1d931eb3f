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
last-writes). Every run rewrites the whole table: a partition-overwrite
on a bucketed key, rewriting only the touched buckets, is neither built
nor measured.

A delete is a tag, not a filter (`tag_deletes`): the survivors
(`live_rows`) and the history (`history_rows`) read the same tagged rows,
as the reference's trigger records the row its DELETE removes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import relational as R

AUDIT = ("create_date_time", "update_date_time", "version")
DELETED = "_deleted"


def merge_upsert(stored: DataFrame, incoming: DataFrame, keys: Sequence[str],
                 ts_col: str) -> DataFrame:
    """Batch MERGE: returns the post-merge table.

    - new keys insert with version=1, create=update=incoming ts
    - matched keys update only when incoming is strictly newer (the
      temporal guard) — version increments, create_date_time is preserved
    - unmatched stored rows pass through
    - a stored row tagged `_deleted` matches nothing: it passes through
      with its tag, and an incoming row of its key inserts (the delete
      ran before the upsert, as the reference's FK cascade does)
    """
    incoming = R.latest_per_key(incoming, keys, ts_col)
    value_cols = [c for c in incoming.columns if c not in keys]
    i = incoming.withColumnsRenamed({c: f"_in_{c}" for c in incoming.columns})
    tag = [DELETED] if DELETED in stored.columns else []
    # the tag is a join condition, not a null key: tagged rows keep
    # their key's partition instead of all hashing to the null one
    match = [F.col(k) == F.col(f"_in_{k}") for k in keys]
    joined = (stored.join(i, match + [F.col(t).isNull() for t in tag],
                          "full_outer")
              .withColumns({k: F.coalesce(k, f"_in_{k}") for k in keys}))
    is_insert = F.col(ts_col).isNull()          # no stored row
    in_ts = F.col(f"_in_{ts_col}")
    take_incoming = is_insert | (in_ts.isNotNull() & (in_ts > F.col(ts_col)))

    return joined.select(
        *keys,
        *[F.when(take_incoming, F.col(f"_in_{c}")).otherwise(F.col(c))
          .alias(c) for c in value_cols if c not in AUDIT],
        F.when(is_insert, in_ts)
         .otherwise(F.col("create_date_time")).alias("create_date_time"),
        F.when(take_incoming, in_ts)
         .otherwise(F.col("update_date_time")).alias("update_date_time"),
        F.when(is_insert, F.lit(1).cast("long"))
         .when(take_incoming, F.col("version") + 1)
         .otherwise(F.col("version")).alias("version"),
        *tag)


def insert_ignore(stored: DataFrame, incoming: DataFrame,
                  keys: Sequence[str], ts_col: str) -> DataFrame:
    """SRC-11 `no_updates` variant (ON CONFLICT DO NOTHING,
    database_insert.py:26-46): existing keys keep their rows."""
    incoming = R.latest_per_key(incoming, keys, ts_col)
    fresh = incoming.join(stored.select(*keys), on=list(keys), how="left_anti")
    fresh = (fresh
             .withColumn("create_date_time", F.col(ts_col))
             .withColumn("update_date_time", F.col(ts_col))
             .withColumn("version", F.lit(1).cast("long")))
    return stored.unionByName(fresh.select(*stored.columns))


def tag_deletes(df: DataFrame, delete_keys: DataFrame, key: str,
                record_type: str) -> DataFrame:
    """OP-ST6 as a tag, in one left join: `_deleted` is set to the history
    `record_type` on the rows whose `key` is in `delete_keys`; a row keeps
    any tag it already has."""
    hits = (delete_keys.select(key).dropDuplicates([key])
            .withColumn("_hit", F.lit(record_type)))
    prior = F.col(DELETED) if DELETED in df.columns else F.lit(None)
    return df.join(hits, on=key, how="left").select(
        *[c for c in df.columns if c != DELETED],
        F.coalesce(prior, F.col("_hit")).alias(DELETED))


def live_rows(df: DataFrame) -> DataFrame:
    """The untagged rows without the tag column (an untagged frame as is)."""
    if DELETED not in df.columns:
        return df
    return df.where(F.col(DELETED).isNull()).drop(DELETED)


def history_rows(df: DataFrame, record_id: str) -> DataFrame:
    """The deleted_record rows (record_type, mms_id, record_id) of the
    tagged rows: the delete-trigger payload."""
    return df.where(F.col(DELETED).isNotNull()).select(
        F.col(DELETED).alias("record_type"),
        F.col("mms_id").cast("string").alias("mms_id"),
        F.col(record_id).cast("string").alias("record_id"))


def delete_with_history(stored: DataFrame, delete_keys: DataFrame,
                        key: str, record_type: str
                        ) -> tuple[DataFrame, DataFrame]:
    """OP-ST6: (survivors, history), both from one tagging join."""
    tagged = tag_deletes(stored, delete_keys, key, record_type)
    return live_rows(tagged), history_rows(tagged, key)


def cascade_delete_holdings(holdings: DataFrame, items: DataFrame,
                            holding_keys: DataFrame
                            ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Holding delete cascading to items (FK ON DELETE CASCADE +
    both triggers, ddl/data_sync_db.sql:416-442,511-560).
    Returns (surviving_holdings, surviving_items, history)."""
    surv_h, hist_h = delete_with_history(
        holdings, holding_keys, "holding_id", "holding")
    tagged_i = tag_deletes(items, holding_keys, "holding_id", "item")
    return (surv_h, live_rows(tagged_i),
            hist_h.unionByName(history_rows(tagged_i, "pid")))


def stale_holdings_for_published_bibs(stored_holdings: DataFrame,
                                      published_bibs: DataFrame,
                                      incoming_holdings: DataFrame) -> DataFrame:
    """OP-J2 (`alma_publish_to_database.py:139-143`): holdings stored
    under a republished bib but absent from the incoming publish are the
    per-bib delete set (holding_id != ALL(incoming))."""
    return R.anti_join_deletes(
        R.semi_join(stored_holdings, published_bibs, ["mms_id"]),
        incoming_holdings, ["holding_id"])
