"""Streaming boilerplate-scrub gate: emit every document, minus the
segments the corpus has already seen.

The streaming twin of queries.doc_boilerplate_scrub (segment-level
exact dedup, operators/dedup.segment_dedup_marks): documents arrive as
a stream; each is re-emitted with its repeated segments removed — a
license block keeps its corpus-wide FIRST occurrence and vanishes from
every later delivery, across batches. Unlike the admission gates
(dedup_gate / neardup_gate), no document is dropped: the unit of
dedup is the segment, the unit of output is the cleaned document.

State is a parquet segment-hash store partitioned by (bucket, epoch,
batch), read only at the buckets a batch touches; a batch's store
write dynamically overwrites ONLY its own ``__batch`` partitions —
no other batch's files are ever read or rewritten (r8: this deleted
the per-batch epoch-slice read-merge-rewrite and its materialization
checkpoint). ``__batch`` is a partition column, and the novelty
anti-join filters ``__batch < batch_id`` — partition-pruned — so a
checkpoint-replayed batch sees EXACTLY the store
state that preceded its original run and recomputes byte-identical
output whether or not its store merge landed (a stronger replay
contract than the admission gates' output-first ordering, needed here
because every document emits: an unfiltered replay against a
post-merge store would over-scrub its own segments to nothing).
Output is partitioned by ``__batch``; a replay dynamically overwrites
only its own slice with the same rows. At-least-once replay →
exactly-once cleaned corpus + store state.

At 100 TB: the store is one 8-byte hash (+bucket, +batch) per DISTINCT
segment ever seen — the text itself never enters the store — and each
batch costs its own segmentation plus an anti-join against touched
buckets only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from datagouv_tools_spark.functions.curation import reassembled_kept_text
from datagouv_tools_spark.operators.dedup import segment_dedup_marks
from datagouv_tools_spark.streaming import store
from datagouv_tools_spark.streaming.source import start_stream
from datagouv_tools_spark.streaming.util import fan_out_batch

__all__ = ["scrub_gate_batch", "stream_scrub"]


def scrub_gate_batch(
    batch: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 8,
    n_buckets: int = 16,
    batch_id: int = 0,
    token_hash: str = "xxhash64",
    epoch_batches: int = 8,
    ttl_epochs: int | None = None,
    post_transform=None,
    keep_cols: tuple[str, ...] = (),
) -> None:
    """Scrub one (micro-)batch against the segment store.

    ``post_transform(cleaned_df) -> DataFrame`` hooks between
    reassembly and the output write — the seam streaming curation uses
    to drop empty/low-quality docs and stamp split assignments WITHOUT
    duplicating the gate engine. It must be a pure column-level
    transform (rows in → filtered/extended rows out); the store merge
    is NOT affected by it (segment novelty is decided before the hook,
    so a quality-dropped doc still claims its novel segments — exactly
    like the batch funnel, where scrub precedes the quality filter).

    Keep rule, composed of two tiers (both deterministic):
    1. within the batch, a segment's first occurrence = min (id,
       seg_idx) — segment_dedup_marks' rule;
    2. across batches, a segment already in the store (from a batch
       STRICTLY before this one) is dropped everywhere in this batch.

    Store layout: partitioned by (__bucket, __epoch = batch_id //
    epoch_batches, __batch). A batch's store write dynamically
    overwrites only its OWN ``__batch`` partitions (deterministic
    replay lands byte-identically; no other batch's files are read or
    rewritten); the novelty read prunes to touched buckets and
    earlier-batch partitions.

    ``ttl_epochs=T`` bounds BOTH state and the novelty read to the last
    T epochs (expired epoch dirs are vacuumed — a directory delete,
    never a rewrite) at the standard retention cost: boilerplate whose
    first occurrence is older than T epochs is treated as novel again
    and re-kept once.
    """
    spark = batch.sparkSession
    epoch_now = batch_id // max(1, epoch_batches)
    min_epoch = None if ttl_epochs is None else epoch_now - ttl_epochs + 1
    # single-file micro-batches would segment on one core (streaming/
    # util.py has the measured numbers)
    batch = fan_out_batch(batch)
    # materialize the segmentation ONCE: several actions consume
    # `marks` (touched-bucket collect, cleaned-output write, store
    # merge) and would otherwise each re-run the md5/xxhash tokenize+
    # segment pass over the batch — measured 3× the gate's per-batch
    # cost. The checkpoint is LAZY and the touched-bucket collect just
    # below is what materializes it: the streamprof r12 per-batch
    # profile showed the eager-checkpoint job's output being re-scanned
    # immediately by the collect (or the first-batch isEmpty probe) —
    # one job now does both (its map stage computes and caches every
    # marks partition; only tiny bucket ids shuffle). Bounded by
    # micro-batch size, the same contract as the store-merge
    # checkpoint below.
    marks = (
        segment_dedup_marks(
            batch, id_col, text_col, seg_len=seg_len,
            token_hash=token_hash, keep_seg_text=True, keep_cols=keep_cols,
            # fan_out_batch above already spread the micro-batch
            fan_out_input=False,
        )
        .withColumn("__bucket", store.bucket(["seg_hash"], n_buckets))
        .localCheckpoint(eager=False)
    )
    # ≤ n_buckets values; doubles as the empty-batch guard on every
    # path (the first batch previously ran a separate isEmpty probe)
    touched = store.touched_buckets(marks)
    if not touched:
        return
    known = store.read_buckets(spark, store_path, touched, min_epoch)
    if known is not None:
        known = (
            known.filter(F.col("__batch") < F.lit(batch_id))
            .select("seg_hash")
            .distinct()
            .withColumn("__known", F.lit(True))
        )
        marks = (
            marks.join(known, "seg_hash", "left")
            .withColumn(
                "kept",
                F.col("kept") & ~F.coalesce(F.col("__known"), F.lit(False)),
            )
            .drop("__known")
            # pay the novelty read ONCE: the cleaned-output and store
            # writes below run concurrently and both consume marks —
            # without this each would re-run the touched-bucket store
            # scan + join on top of the pre-join checkpoint. Bounded by
            # micro-batch size, same contract as the checkpoint above.
            .localCheckpoint(eager=True)
        )
    cleaned = (
        marks.groupBy(id_col, *keep_cols)
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            F.sum(F.col("kept").cast("int")).cast("int").alias("n_kept"),
            reassembled_kept_text().alias("cleaned_text"),
        )
    )

    # 1) cleaned docs to the output table (replay rewrites own slice)
    if post_transform is not None:
        cleaned = post_transform(cleaned)

    def _write_cleaned() -> None:
        store.write_partitions(
            cleaned.withColumn("__batch", F.lit(batch_id)), out_path, "__batch"
        )

    # 2) the store: this batch's novel kept segments, written into
    # per-(__bucket, __epoch, __batch) partitions. With dynamic
    # partition overwrite, the write replaces ONLY this batch's own
    # partitions — an out-of-order replay of batch N after N+1 cannot
    # delete N+1's segments, and the recomputed (deterministic) novel
    # set lands byte-identically — so the former read-merge-rewrite of
    # the epoch slice (a store read plus a materialization checkpoint
    # per batch) is gone entirely. The novelty read prunes on the
    # __batch partition column now, too. Scale note: within-epoch
    # batch dirs are small; epoch close is the natural compaction
    # point if file counts ever matter (same knob as the admission
    # gates).
    novel = (
        marks.filter(F.col("kept"))
        .select("seg_hash", "__bucket")
        .distinct()
        .withColumn("__batch", F.lit(batch_id).cast("long"))
        .withColumn("__epoch", F.lit(epoch_now).cast("long"))
    )

    def _write_store() -> None:
        store.write_partitions(
            novel, store_path, "__bucket", "__epoch", "__batch"
        )

    # Both writes read only the materialized marks checkpoint (plus,
    # for the cleaned side, earlier-batch store partitions) and neither
    # reads what the other writes — unlike the admission gates, scrub's
    # replay contract comes from the __batch < batch_id novelty filter,
    # not from output-before-store ordering. Submit them concurrently.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [pool.submit(_write_cleaned), pool.submit(_write_store)]
        for f in futs:
            f.result()
    if min_epoch is not None:
        store.vacuum_epochs(spark, store_path, min_epoch)


def stream_scrub(
    doc_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    **kwargs,
) -> StreamingQuery:
    """Start the scrub stream (availableNow: drain backlog and stop);
    ``kwargs`` go to :func:`scrub_gate_batch`."""
    return start_stream(
        doc_stream.writeStream.foreachBatch(
            lambda b, i: scrub_gate_batch(
                b, store_path, out_path, batch_id=i, **kwargs
            )
        )
        .outputMode("append")
        .trigger(availableNow=True),
        checkpoint,
    )
