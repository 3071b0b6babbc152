"""Streaming NEAR-duplicate admission gates: banded LSH against a
persistent band-bucket store — MinHash bands over text
(``neardup_gate_batch``) and sign-LSH bands over embeddings
(``embdup_gate_batch``), sharing one admission engine
(``_banded_admission_batch``).

`streaming/dedup_gate.py` admits exactly-new documents (normalized
fingerprint equality); this gate generalizes admission to near-
duplicates: a document is rejected when any of its LSH band buckets was
already claimed by an admitted document — the streaming analog of
``operators/dedup.minhash_cluster_edges`` blocking, with the same
signature/banding parameters (k permutations, k//bands rows per band,
``functions/xhash`` md5 option for cross-engine reproducibility).

State is a persistent parquet store of (band_idx, band_hash) pairs,
hash-partitioned into ``n_store_buckets`` directories — per batch only
the touched store partitions are read (an anti-join against a bounded
slice, never a history scan), and only admitted documents' bands merge
back. Store size is admitted_docs × bands rows of two longs — orders
of magnitude smaller than the corpus.

Admission rule (deterministic, single aggregation, no iteration):
a document d is admitted iff EVERY band bucket of d

1. misses the store (no previously admitted near-neighbor), and
2. has d as its minimum document id within the batch (no smaller-id
   in-flight near-neighbor).

This is the conservative greedy: a document whose bucket-mate was
itself rejected may also be rejected (transitive chains inside one
batch over-drop), which errs toward precision under duplicate floods —
the failure mode that matters at ingest. Cross-batch, admission is
exactly greedy-by-arrival (the store only ever contains admitted
documents' bands).

Replay idempotence mirrors dedup_gate: output partitioned by the
checkpoint-stable micro-batch id is written FIRST (dynamic overwrite —
a replay rewrites only its own slice), the store merge second; a
replay against an already-merged store admits nothing and touches
nothing. Exercised for in-order, out-of-order (batch N after N+1), and
lost-store-merge replays in ``tests/test_streaming.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.streaming import store
from datagouv_tools_spark.streaming.util import fan_out_batch

__all__ = [
    "embdup_gate_batch",
    "neardup_gate_batch",
    "simdup_gate_batch",
]


def neardup_gate_batch(
    batch: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    token_hash: str = "xxhash64",
    n_store_buckets: int = 16,
    batch_id: int = 0,
    ttl_epochs: int | None = None,
    epoch_batches: int = 1,
) -> None:
    """Admit one (micro-)batch through the near-dup gate.

    ``batch_id`` must be the streaming micro-batch id (stable across
    checkpointed replays); it partitions the output so a replay
    rewrites only its own slice.

    Store compaction (``ttl_epochs``): without it the band store grows
    as admitted_docs × bands forever, and every touched bucket is fully
    rewritten each batch — rewrite cost grows with store size. With
    ``ttl_epochs=T`` the store is additionally partitioned by
    ``__epoch = batch_id // epoch_batches``: the anti-join reads only
    the last T epochs of touched buckets (partition pruning on both
    keys), the merge rewrites ONLY the current epoch's slice (older
    epoch files are never touched — pinned by a file-listing test), and
    expiry is a directory delete. The admission contract becomes
    greedy-by-arrival within a sliding window: a near-dup of a document
    admitted more than T epochs ago is admitted again — the standard
    retention trade a 100 TB ingest gate makes to bound state. Choose
    the mode at store creation; the two layouts don't mix."""
    from datagouv_tools_spark.operators.dedup import _band_entries

    batch = fan_out_batch(batch)
    entries = _band_entries(
        batch, text_col, id_col, k, bands, seed, token_hash, band_key="hash"
    )
    _banded_admission_batch(
        entries, batch, store_path, out_path, id_col,
        n_store_buckets, batch_id, ttl_epochs, epoch_batches,
    )


def embdup_gate_batch(
    batch: DataFrame,
    store_path: str,
    out_path: str,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    dim: int = 64,
    n_bands: int = 10,
    band_bits: int = 10,
    seed: int = 42,
    n_store_buckets: int = 16,
    batch_id: int = 0,
    ttl_epochs: int | None = None,
    epoch_batches: int = 1,
) -> None:
    """Streaming SEMANTIC near-dup admission gate: the embedding-modality
    sibling of ``neardup_gate_batch`` — band buckets come from banded
    sign-LSH over the embedding column (``operators/similarity.
    lsh_band_buckets``, the same seeded projections as the batch-side
    ``cosine_pairs_lsh``) instead of MinHash over tokens; the store,
    admission rule, replay ordering, and TTL compaction are the shared
    engine, so every property tested for the text gate (flood bounds,
    out-of-order replay, epoch-bounded rewrite) carries over.

    Admission is bucket-claimed ⇒ reject, unverified — the conservative
    greedy the text gate also ships. Precision on RANDOM vectors: a
    false rejection needs an exact ``band_bits``-bit bucket collision
    in some band (≈ n_bands·2^-band_bits ≈ 1% at defaults); a true
    near-dup at cosine 0.99 collides with probability ≈ 1 − (1 −
    p^b)^L ≈ 0.9999 (p = 0.955). Tighten band_bits for precision,
    raise n_bands for recall; exact-threshold semantics need the
    batch-side verify (``cosine_pairs_lsh``)."""
    from datagouv_tools_spark.operators.similarity import lsh_band_buckets

    batch = fan_out_batch(batch)
    entries = lsh_band_buckets(
        batch, id_col, vec_col, dim, n_bands, band_bits, seed,
        # fan_out_batch above already spread the micro-batch
        fan_out_input=False,
    ).select(
        id_col,
        F.col("__band").alias("band_idx"),
        F.col("__bucket").alias("band_hash"),
    )
    _banded_admission_batch(
        entries, batch, store_path, out_path, id_col,
        n_store_buckets, batch_id, ttl_epochs, epoch_batches,
    )


def _banded_admission_batch(
    entries: DataFrame,
    batch: DataFrame,
    store_path: str,
    out_path: str,
    id_col: str,
    n_store_buckets: int,
    batch_id: int,
    ttl_epochs: int | None,
    epoch_batches: int,
) -> None:
    """Shared banded-admission engine: takes (id, band_idx, band_hash)
    entries from any banding scheme (MinHash text bands, sign-LSH
    embedding bands) and applies the store anti-join, the two-condition
    admission rule, the output-first replay ordering, and the
    TTL/epoch store discipline documented on ``neardup_gate_batch``."""
    spark = batch.sparkSession
    epoch_now = batch_id // max(1, epoch_batches)
    min_epoch = None if ttl_epochs is None else epoch_now - ttl_epochs + 1
    entries = entries.withColumn(
        "__bucket", store.bucket(["band_idx", "band_hash"], n_store_buckets)
    )
    touched = store.touched_buckets(entries)
    if not touched:
        return

    known = store.read_buckets(spark, store_path, touched, min_epoch)
    if known is not None:
        known = known.select("band_idx", "band_hash").withColumn(
            "__known", F.lit(True)
        )
        marked = entries.join(known, ["band_idx", "band_hash"], "left")
    else:
        marked = entries.withColumn("__known", F.lit(None).cast("boolean"))

    # batch-local min id per bucket; a doc survives only if it owns the
    # minimum in EVERY one of its buckets and none of them hit the store
    batch_min = marked.groupBy("band_idx", "band_hash").agg(
        F.min(id_col).alias("__batch_min")
    )
    verdict = (
        marked.join(batch_min, ["band_idx", "band_hash"])
        .groupBy(id_col)
        .agg(
            F.max(F.coalesce(F.col("__known"), F.lit(False)).cast("int")).alias(
                "__any_known"
            ),
            F.max(
                (F.col("__batch_min") != F.col(id_col)).cast("int")
            ).alias("__any_not_min"),
        )
        .filter((F.col("__any_known") == 0) & (F.col("__any_not_min") == 0))
        .select(id_col)
    )
    admitted = batch.join(verdict, id_col, "left_semi")

    # 1) output first (module docstring: the replay argument)
    store.write_partitions(
        admitted.withColumn("__batch", F.lit(batch_id)), out_path, "__batch"
    )
    # 2) then the store: touched buckets ∪ admitted docs' bands
    store.merge_buckets(
        entries.join(verdict, id_col, "left_semi").select(
            "band_idx", "band_hash", "__bucket"
        ),
        store_path, touched, epoch=epoch_now, min_epoch=min_epoch,
    )


def simdup_gate_batch(
    batch: DataFrame,
    store_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    token_hash: str = "xxhash64",
    n_store_buckets: int = 16,
    batch_id: int = 0,
    ttl_epochs: int | None = None,
    epoch_batches: int = 1,
) -> None:
    """Streaming SIMHASH near-dup admission gate — the third
    fingerprint modality through the one shared banded-admission
    engine (MinHash token bands, sign-LSH embedding bands, and now
    banded-Hamming SimHash bands).

    The 64-bit (60 in md5 oracle mode) SimHash splits into ``n_bands``
    contiguous bit slices; a document is rejected when ANY slice's
    value is already claimed. Pigeonhole gives a GUARANTEE the other
    gates can't: two documents within Hamming distance < n_bands have
    some band with zero differing bits, so every such near-dup is
    caught deterministically (beyond that distance, detection decays
    with how the differing bits spread). Same store, replay ordering,
    TTL/epoch compaction, and flood bounds as the sibling gates."""
    from datagouv_tools_spark.operators.dedup import simhash64

    batch = fan_out_batch(batch)
    n_bits = 64 if token_hash == "xxhash64" else 60
    width = n_bits // n_bands
    mask = (1 << width) - 1
    sig = simhash64(batch, text_col, id_col, token_hash)
    slices = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.shiftrightunsigned(F.col("simhash"), b * width)
                .bitwiseAND(F.lit(mask).cast("bigint"))
                .alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    entries = sig.select(
        id_col, F.explode(slices).alias("s")
    ).select(id_col, "s.band_idx", "s.band_hash")
    _banded_admission_batch(
        entries, batch, store_path, out_path, id_col,
        n_store_buckets, batch_id, ttl_epochs, epoch_batches,
    )
