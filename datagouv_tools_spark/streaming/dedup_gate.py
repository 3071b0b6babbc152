"""Streaming corpus-dedup gate: admit only never-seen documents.

The training-data ingestion shape: documents arrive as a stream, and a
document is admitted exactly once — the first time its normalized
fingerprint (functions/text.fingerprint_md5) is seen — no matter how
often crawlers re-deliver it. State is a persistent, bucket-partitioned
parquet fingerprint store (``streaming/store.py``), so per-batch cost
scales with the buckets the batch touches, not with corpus history.

Per micro-batch (``foreachBatch``):

1. fingerprint each doc; keep the min-id doc per fingerprint WITHIN the
   batch (deterministic representative, as operators/dedup.dedup_exact);
2. read ONLY the store buckets this batch touches; anti-join to drop
   already-admitted fingerprints;
3. write admitted docs to the output table — partitioned by the
   micro-batch id, which the checkpoint keeps stable across replays,
   so a replay dynamically overwrites ITS OWN partition and never
   touches other batches' output — THEN merge the new fingerprints
   into the store (union + distinct, dynamic overwrite of touched
   buckets).

Write order + dynamic overwrite make replay idempotent: a re-delivered
batch recomputes the same admitted set (store not yet updated ⇒ same
anti-join result, rewriting identical partitions; store updated ⇒ empty
admitted set, nothing rewritten). This is at-least-once replay →
exactly-once table state, the same argument as upsert.py.

At 100 TB: the store holds one 32-byte md5 + bucket per admitted doc —
orders of magnitude smaller than the corpus — and each batch reads only
touched buckets. Mass re-delivery (the common crawler failure) costs
one anti-join against those buckets, not a corpus scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.text import fingerprint_md5
from datagouv_tools_spark.streaming import store
from datagouv_tools_spark.streaming.util import fan_out_batch

__all__ = ["dedup_gate_batch"]


def dedup_gate_batch(
    batch: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
    batch_id: int = 0,
    ttl_epochs: int | None = None,
    epoch_batches: int = 1,
) -> None:
    """Admit one (micro-)batch through the fingerprint gate.

    ``batch_id`` must be the streaming micro-batch id (stable across
    checkpointed replays); it partitions the output so a replay
    rewrites only its own slice. Wire it into a stream as
    ``foreachBatch(lambda b, i: dedup_gate_batch(b, ..., batch_id=i))``.

    ``ttl_epochs``: same store-compaction contract as
    ``neardup_gate_batch`` — the store gains an
    ``__epoch = batch_id // epoch_batches`` partition key, the
    anti-join reads only the last T epochs of touched buckets, the
    merge rewrites only the current epoch's slice, and expired epoch
    dirs are vacuumed. A document re-delivered more than T epochs
    after its admission is re-admitted (sliding-window exactly-once).
    Choose the mode at store creation; the two layouts don't mix."""
    spark = batch.sparkSession
    batch = fan_out_batch(batch)
    epoch_now = batch_id // max(1, epoch_batches)
    min_epoch = None if ttl_epochs is None else epoch_now - ttl_epochs + 1
    fp = (
        batch.withColumn("__fp", fingerprint_md5(text_col))
        .withColumn("__bucket", store.bucket(["__fp"], n_buckets))
    )
    # deterministic min-id representative per fingerprint within the batch
    best = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    fp = fp.join(best, ["__fp", id_col], "left_semi")
    touched = store.touched_buckets(fp)
    if not touched:
        return

    known = store.read_buckets(spark, store_path, touched, min_epoch)
    admitted = fp if known is None else fp.join(known, "__fp", "left_anti")

    # 1) output first (see module docstring for the replay argument)
    store.write_partitions(
        admitted.withColumn("__batch", F.lit(batch_id)), out_path, "__batch"
    )
    # 2) then the store: touched buckets ∪ new fingerprints, distinct
    store.merge_buckets(
        admitted.select("__fp", "__bucket"), store_path, touched,
        epoch=epoch_now, min_epoch=min_epoch,
    )
