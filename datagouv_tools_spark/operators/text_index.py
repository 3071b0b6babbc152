"""Persisted MinHash band index for text near-dup — build once, search
many.

The text-modality sibling of ``operators/ann_index.py``: the batch
near-dup operators (``operators/dedup.minhash_pairs`` /
``minhash_cluster_edges``) recompute signatures and band buckets per
invocation; a production pipeline materializes the band entries ONCE
and serves every candidate-generation query from the store — the same
artifact the streaming admission gate (``streaming/neardup_gate.py``)
already keeps, here as a batch-queryable index.

Layout under ``text_index_build(path)``:

- ``meta.parquet`` — 1 row of build parameters (validated on open)
- ``bands``       — (id, band_hash) PARTITIONED BY ``band_idx``:
  candidate generation reads per-band partitions; the membership probe
  for append healing reads ONE partition (every doc appears in every
  band, so band 0 is a complete id set at 1/bands of the store).

Unlike the ANN index there is NOTHING trained: MinHash permutations
are pure seeded arithmetic, so ``append`` is exact by construction
(no codebook drift, no rebuild policy needed) and an appended index is
bit-identical to one built from the union — pinned by serving the
indexed query from the SAME oracle as the recompute variant.

No reference analog (jferard/datagouv_tools has no dedup code).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.dedup import _band_entries

__all__ = [
    "TextBandIndex",
    "text_index_build",
    "text_index_open",
    "text_index_append",
    "foreach_batch_text_index_appender",
    "stream_text_index_append",
    "text_index_compact",
]


@dataclass
class TextBandIndex:
    """An opened index: tiny meta dict + the lazy band-entry store."""

    spark: SparkSession
    path: str
    meta: dict

    def entries(self) -> DataFrame:
        return self.spark.read.parquet(f"{self.path}/bands")

    def candidate_pairs(self) -> DataFrame:
        """All candidate pairs (id_a < id_b, distinct) from the STORED
        band entries — ``minhash_pairs``' join half with zero signature
        computation. Use only when every pair needs individual
        verification; prefer :meth:`star_edges` for clustering (the
        clique explodes under mass duplication, the star doesn't)."""
        id_col = self.meta["id_col"]
        eb = self.entries()
        a = eb.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
        b = eb.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
        return (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )

    def star_edges(self) -> DataFrame:
        """Linear-output candidate edges (bucket-min star) from the
        stored entries — feeds ``operators/dedup.dedup_clusters``; same
        component structure as the clique at O(n·bands) edges
        (the ``minhash_cluster_edges`` argument, off the store)."""
        id_col = self.meta["id_col"]
        eb = self.entries()
        mins = eb.groupBy("band_idx", "band_hash").agg(
            F.min(id_col).alias("__min")
        )
        return (
            eb.join(mins, ["band_idx", "band_hash"])
            .filter(F.col(id_col) != F.col("__min"))
            .select(F.col("__min").alias("id_a"), F.col(id_col).alias("id_b"))
            .distinct()
        )


def _entries_for(index_meta: dict, docs: DataFrame) -> DataFrame:
    return _band_entries(
        docs,
        index_meta["text_col"],
        index_meta["id_col"],
        int(index_meta["k"]),
        int(index_meta["bands"]),
        int(index_meta["seed"]),
        index_meta["token_hash"],
        index_meta["band_key"],
    )


def text_index_build(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 64,
    bands: int = 16,
    seed: int = 42,
    token_hash: str = "md5",
    band_key: str = "values",
) -> TextBandIndex:
    """Build and persist the band store for ``docs``; returns the
    opened index. Deterministic (seeded permutations over the token
    hash), so stored entries equal freshly computed ones — the
    *_indexed query reuses the non-indexed oracle."""
    spark = docs.sparkSession
    meta = {
        "id_col": id_col, "text_col": text_col, "k": k, "bands": bands,
        "seed": seed, "token_hash": token_hash, "band_key": band_key,
    }
    spark.createDataFrame([meta]).write.mode("overwrite").parquet(
        f"{path}/meta.parquet"
    )
    (
        _entries_for(meta, docs)
        .write.mode("overwrite")
        .partitionBy("band_idx")
        .parquet(f"{path}/bands")
    )
    return text_index_open(spark, path)


def text_index_open(spark: SparkSession, path: str) -> TextBandIndex:
    """Open a persisted index: loads meta only; the band store stays
    lazy. No signature computation happens here or in any candidate
    method — pinned by a test that stubs the signature builder out
    after build."""
    meta = spark.read.parquet(f"{path}/meta.parquet").collect()[0].asDict()
    return TextBandIndex(spark, path, meta)


def text_index_append(
    index: TextBandIndex,
    new_docs: DataFrame,
    anti_join_existing: bool = False,
) -> None:
    """Incremental maintenance: band ``new_docs`` with the FROZEN
    seeded parameters and append — O(|new|) work, and (unlike the ANN
    index) exactly equivalent to a fresh build over the union, because
    nothing is trained. ``anti_join_existing=True`` heals at-least-once
    redelivery by probing the ``band_idx = 0`` partition (a complete
    membership set at 1/bands of the store)."""
    id_col = index.meta["id_col"]
    if anti_join_existing:
        known = (
            index.entries().filter(F.col("band_idx") == 0).select(id_col)
        )
        new_docs = new_docs.join(known, id_col, "left_anti")
    (
        _entries_for(index.meta, new_docs)
        .write.mode("append")
        .partitionBy("band_idx")
        .parquet(f"{index.path}/bands")
    )


def foreach_batch_text_index_appender(index: TextBandIndex, run_key: str):
    """``writeStream.foreachBatch`` callback for continuous text-index
    maintenance — the text twin of ``streaming/index_ingest``: a tiny
    (run_key, batch id) ledger under the index path skips checkpoint
    redeliveries outright; the ledger row lands AFTER the data
    (output-first), and the crash window between the two writes is
    healed by ``anti_join_existing``'s one-partition membership probe.
    """
    from datagouv_tools_spark.streaming.store import apply_once

    def apply(batch: DataFrame, batch_id: int) -> None:
        apply_once(
            batch.sparkSession, index.path, run_key, batch_id,
            lambda: text_index_append(index, batch, anti_join_existing=True),
        )

    return apply


def stream_text_index_append(
    doc_stream: DataFrame, index: TextBandIndex, checkpoint: str
):
    """Start the continuous text-index maintenance stream (availableNow
    drains the backlog and stops; a production stream runs a
    processing-time trigger with the same callback)."""
    from datagouv_tools_spark.streaming.source import start_stream
    from datagouv_tools_spark.streaming.store import run_key_for_checkpoint

    return start_stream(
        doc_stream.writeStream.foreachBatch(
            foreach_batch_text_index_appender(
                index, run_key_for_checkpoint(checkpoint)
            )
        ).trigger(availableNow=True),
        checkpoint,
    )


def text_index_compact(index: TextBandIndex, parallelism: int = 8) -> None:
    """Compact the append-accumulated small files of the band store —
    the same maintenance contract as ``ann_index.index_compact``: rows
    hash-cluster on ``band_idx`` across ``parallelism`` tasks so each
    partition dir rewrites to one file; only the layout changes, never
    a row (pinned by test). The rewrite materializes through
    ``localCheckpoint`` before overwriting the path it reads."""
    compacted = (
        index.entries()
        .repartition(parallelism, F.col("band_idx"))
        .localCheckpoint()
    )
    (
        compacted.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("band_idx")
        .parquet(f"{index.path}/bands")
    )
