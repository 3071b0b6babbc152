"""Streaming keyed upsert into partitioned parquet via ``foreachBatch``.

Plain parquet has no MERGE, but a bucket-partitioned layout + dynamic
partition overwrite gives an idempotent, incremental upsert:

1. the table is a bucketed store (``streaming/store.py``), partitioned
   by a hash of the key;
2. each micro-batch reduces to its newest row per key, finds the
   buckets it touches, reads ONLY those partitions from the existing
   table, merges latest-per-key (CDC semantics — operators/cdc.py),
   and overwrites just those partitions (dynamic partition overwrite);
3. re-running a batch rewrites the same partitions to the same state —
   idempotent under the streaming checkpoint's at-least-once replay.

Cost per batch scales with touched buckets, not table size; pick
``n_buckets`` so one bucket ≈ an executor-friendly rewrite unit.
This is the OSS-parquet answer to what Delta/Iceberg MERGE does with
metadata; swap the sink for MERGE INTO when a table format is present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.cdc import apply_changelog
from datagouv_tools_spark.streaming import store

__all__ = ["upsert_batch"]


def upsert_batch(
    batch: DataFrame,
    path: str,
    key_cols: list[str],
    order_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """Merge one (micro-)batch into the bucket-partitioned table at
    ``path`` keeping the newest row per key."""

    def latest(df: DataFrame) -> DataFrame:
        return apply_changelog(
            df.withColumn("__op", F.lit("U")), key_cols, order_cols, op_col="__op"
        )

    # newest row per key WITHIN the batch first (cheap pre-reduce)
    keyed = latest(batch.withColumn("__bucket", store.bucket(key_cols, n_buckets)))
    touched = store.touched_buckets(keyed)
    if not touched:
        return
    # touched partitions ∪ batch → newest per key; the merge READS the
    # partitions it overwrites, so the store materializes it first
    store.merge_buckets(keyed, path, touched, combine=latest)
