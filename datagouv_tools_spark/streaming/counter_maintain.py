"""Generic streaming counter store: named bigint counters with ADD
merge — the simplest member of the maintainer family.

Any statistic that is a pure sum of per-batch integer contributions
fits this store: BM25 corpus stats (doc count, token total, per-term
document frequencies — ``operators/retrieval.bm25_counter_increments``
emits exactly these rows), ingest accounting, per-source admission
tallies. State is one row per counter key, bounded by the key set the
caller chooses, never by data volume.

Replay discipline is the CMS's (``streaming/sketch_maintain.py``;
both fold through ``streaming/store.fold_versioned``): ADD is not
idempotent, so every committed version carries the (run_key, batch id)
tag that wrote it and a redelivered batch skips; the versioned layout
means no crash window ever exposes missing or half-merged state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.streaming import store

__all__ = [
    "counter_maintain_batch",
    "read_counters",
]


def counter_maintain_batch(
    increments: DataFrame,
    store_path: str,
    run_key: str,
    batch_id: int,
) -> None:
    """Fold one micro-batch of (key string, val bigint) increments into
    the counter store. Wire a stream with ``foreachBatch(lambda b, i:
    counter_maintain_batch(to_increments(b), path, run_key, i))``."""
    store.fold_versioned(
        increments.groupBy("key").agg(F.sum("val").alias("val")),
        store_path, ["key"], "val", run_key, batch_id,
    )


def read_counters(spark, store_path: str) -> dict[str, int]:
    """The maintained counters as a plain dict (bounded by the key
    set — safe to collect)."""
    cur = store.read_committed(spark, store_path)
    if cur is None:
        return {}
    return {
        r["key"]: int(r["val"])
        for r in cur.drop("__run", "__seq").collect()
    }
