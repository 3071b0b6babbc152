"""Continuously maintain SCD2 state-history intervals from an event
stream.

The batch twin is the gaps-and-islands query (``user_state_intervals``):
collapse each key's event sequence into maximal same-state runs with
validity intervals. The streaming maintainer keeps that history fresh
per micro-batch with the RECOMPUTE-BOUNDED design proven by
``rollup_maintain.maintain_rollup_batch``:

- a base EVENT store and the INTERVAL store are both parquet
  directories partitioned by the same key-hash bucket;
- per batch, the touched buckets absorb the batch's net-new events
  (an event_id anti-join makes a redelivered batch a no-op — the
  foreachBatch at-least-once obligation), then ONLY those buckets'
  event slices re-run the island window and replace their interval
  partitions atomically (stage → partition swap).

Idempotence needs no ledger: every interval partition is a pure
function of its post-batch event slice, so any crash/replay
interleaving converges on the next delivery. Per-batch cost is
O(touched buckets' events), never O(history); buckets are sized so a
partition stays an executor-friendly unit.

Ordering contract: events must arrive in (ts, event_id) order per key
ACROSS batches — the log-compacted-topic guarantee. Out-of-order
arrivals within a bucket are still handled correctly (the recompute
sorts the whole slice); the contract only matters for what "open
interval" means between batches.

Consistency contract (tested): after any prefix of batches, including
replays, ``read_intervals`` equals the batch gaps-and-islands query
over the union of delivered events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from datagouv_tools_spark.streaming import store

__all__ = ["scd2_batch", "read_intervals"]


def _islands(events: DataFrame, key: str, state: str) -> DataFrame:
    """The batch twin's window logic over one event slice: lag → change
    marker → running island id → per-island interval aggregate."""
    w = Window.partitionBy(key).orderBy("ts", "event_id")
    marked = events.select(
        key,
        state,
        "ts",
        "event_id",
        F.when(
            F.lag(state).over(w).isNull()
            | (F.lag(state).over(w) != F.col(state)),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    grp = marked.select(
        key,
        state,
        "ts",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("island"),
    )
    return grp.groupBy(key, state, "island").agg(
        F.min("ts").alias("valid_from"),
        F.max("ts").alias("valid_to"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )


def scd2_batch(
    spark,
    batch: DataFrame,
    base_path: str,
    intervals_path: str,
    key: str = "user_id",
    state: str = "event_type",
    n_buckets: int = 8,
) -> None:
    """Absorb one micro-batch: net-new events into the touched base
    buckets, then rebuild exactly those buckets' interval partitions."""
    b = batch.select(key, state, "ts", "event_id").withColumn(
        "__bucket", store.bucket([key], n_buckets)
    )
    touched = store.touched_buckets(b)
    if not touched:
        return
    existing = store.read_buckets(spark, base_path, touched)
    if existing is not None:
        fresh = b.join(
            existing.select("event_id"), "event_id", "left_anti"
        )
        slice_df = existing.unionByName(fresh)
    else:
        slice_df = b
    slice_df = slice_df.localCheckpoint(eager=True)
    iv = _islands(slice_df, key, state).withColumn(
        "__bucket", store.bucket([key], n_buckets)
    )
    # both writes read only the materialized slice checkpoint — submit
    # them concurrently (independent jobs; scheduler interleaves)
    from concurrent.futures import ThreadPoolExecutor

    # append-only state: the batch itself puts rows in every touched
    # bucket (and islands emit >=1 interval per key), so with_rows ==
    # touched by construction — no per-write distinct-collect job
    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(store.replace_buckets, df, path, touched, touched)
            for df, path in ((slice_df, base_path), (iv, intervals_path))
        ]
        for f in futs:
            f.result()


def read_intervals(spark, intervals_path: str) -> DataFrame | None:
    """The serving read: the maintained interval history (all buckets)."""
    df = store.read_store(spark, intervals_path)
    return None if df is None else df.drop("__bucket")
