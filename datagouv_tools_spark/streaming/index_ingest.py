"""Streaming ingestion into the persisted ANN index.

``operators/ann_index.index_append`` gives the batch side incremental
maintenance; this module drives it from a stream: each micro-batch of
new vectors is encoded with the FROZEN stored artifacts and appended to
the partitioned codes/bands stores via ``foreachBatch`` — the "vectors
arrive continuously, index serves continuously" shape (a crawl emitting
embeddings, an ingest topic of new documents).

Replay semantics (streaming checkpoints re-deliver batches
at-least-once):

- A tiny ``applied_batches`` parquet ledger under the index path
  (``streaming/store.py``) records every fully-applied (run_key,
  micro-batch id) pair; a redelivered
  batch id from the SAME checkpoint is skipped outright, so normal
  checkpoint recovery appends nothing twice. Batch ids are only unique
  per checkpoint, so the ledger is namespaced by a run key derived from
  the checkpoint path — a restart with a fresh checkpoint processes its
  batches as new work instead of silently dropping them.
- The ledger row is written AFTER the data (output-first, the same
  ordering contract as streaming/dedup_gate.py): a crash between the
  two writes re-appends that batch on recovery. The appender therefore
  runs ``index_append(..., anti_join_existing=True)``, whose codes-side
  membership probe is partition-pruned to the ``__list`` partitions the
  batch touches and whose bands-side probe reads the single ``__band=0``
  partition (every vector appears in every band) — each store heals
  against ITSELF, so a crash between the codes and bands appends cannot
  permanently desynchronize them.
- Cost per batch: O(|batch|) encode + touched-partition id scans +
  appended files. Store size never enters the per-batch cost beyond the
  1/n_bands band-membership column scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from datagouv_tools_spark.operators.ann_index import AnnIndex, index_append
from datagouv_tools_spark.streaming.source import start_stream
from datagouv_tools_spark.streaming.store import (
    applied_batch_ids,
    apply_once,
    run_key_for_checkpoint,
)

__all__ = [
    "applied_batch_ids",
    "run_key_for_checkpoint",
    "foreach_batch_index_appender",
    "stream_index_append",
]


def foreach_batch_index_appender(index: AnnIndex, run_key: str):
    """A ``foreachBatch`` function appending each micro-batch to
    ``index`` exactly once per (run_key, batch id) — ledger-skipped on
    same-checkpoint redelivery, anti-join-healed on crash-window
    replays and cross-run duplicates."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        def append() -> None:
            if not batch.isEmpty():
                index_append(index, batch, anti_join_existing=True)

        apply_once(batch.sparkSession, index.path, run_key, batch_id, append)

    return apply


def stream_index_append(
    vec_stream: DataFrame,
    index: AnnIndex,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start a stream appending ``vec_stream`` (``id_col``, ``vec_col``
    rows matching the index meta) into ``index``. ``available_now=True``
    drains the current backlog and stops (the test/replay mode); False
    runs continuously."""
    writer = vec_stream.writeStream.foreachBatch(
        foreach_batch_index_appender(index, run_key_for_checkpoint(checkpoint))
    ).outputMode("append")
    if available_now:
        writer = writer.trigger(availableNow=True)
    return start_stream(writer, checkpoint)
