"""End-to-end corpus curation pipeline: the training-data stages this
engine implements as individual oracle-checked queries, composed into
one deterministic batch run that writes a cleaned, split-partitioned
corpus plus a per-stage funnel report.

Stages (each is the library operator the matching query surface uses —
same semantics, same determinism guarantees):

1. **Exact dedup** — drop byte-duplicate documents by normalized
   fingerprint, keeping the min-id representative
   (operators/dedup.dedup_fingerprint).
2. **Boilerplate scrub** — segment-level exact dedup; every document is
   reassembled from only the corpus-wide first occurrences of its
   segments (operators/dedup.segment_dedup_marks, the
   doc_boilerplate_scrub shape). Documents scrubbed to empty are
   dropped.
3. **Quality filter** — the deterministic linear quality classifier
   (doc_quality_logit's pinned weights); logit < 0 drops.
4. **Optional PPS cap** — ``sample_per_source=k`` keeps ~k docs per
   source with probability proportional to token count (systematic PPS,
   operators/sampling.py — the doc_pps_sample rule): a deterministic
   corpus-size cap that still favors substantive documents.
5. **Split assignment** — seeded md5 train/val/test buckets
   (doc_split_assignment's rule): stable across engines, reruns, and
   cluster sizes.
6. **Write** — parquet partitioned by split.

Everything is rerun-deterministic: a doc's fate never depends on
partitioning, task order, or time. At 100 TB each stage is the shuffle
shape its operator documents (hash-only exchanges for dedup/scrub
winner selection; map-side quality + split; one text movement for
reassembly — the floor for a transform that rewrites documents).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from functools import reduce

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from datagouv_tools_spark.functions.curation import (
    SPLITS,
    mixing_accept,
    mixing_rate_expr,
    quality_logit,
    reassembled_kept_text,
    split_assignment,
)
from datagouv_tools_spark.operators.dedup import (
    dedup_fingerprint,
    segment_dedup_marks,
)

__all__ = ["CurationReport", "curate_corpus"]


@dataclass
class CurationReport:
    n_input: int
    n_after_exact_dedup: int
    n_after_scrub: int
    n_after_quality: int
    split_counts: dict[str, int]
    n_after_sample: int | None = None

    def as_rows(self) -> list[tuple[str, int]]:
        rows = [
            ("input", self.n_input),
            ("exact_dedup", self.n_after_exact_dedup),
            ("scrub_nonempty", self.n_after_scrub),
            ("quality", self.n_after_quality),
        ]
        if self.n_after_sample is not None:
            rows.append(("pps_sample", self.n_after_sample))
        rows += [(f"split_{k}", v) for k, v in sorted(self.split_counts.items())]
        return rows


def curate_corpus(
    docs: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
    keep_cols: tuple[str, ...] = ("source", "lang"),
    sample_per_source: int | None = None,
    mix_rates: dict[str, float] | None = None,
    rejects_dir: str | None = None,
) -> CurationReport:
    """Run the curation funnel over ``docs`` and write the cleaned,
    split-partitioned corpus to ``out_dir``. Returns stage counts.

    ``rejects_dir`` captures every dropped document WITH the stage that
    dropped it (parquet partitioned by ``reject_stage`` ∈
    exact_dup / scrubbed_empty / quality / mixing / pps_cap) — the
    audit side-channel a production pipeline needs to answer "where
    did my document go" and to re-run a stage with different knobs
    without re-deriving its input. Derived as anti-joins of adjacent
    stage outputs on ``id_col``, so the funnel's own lineage is the
    single source of truth. It is a second write; the dedup and scrub
    stages are cached (MEMORY_AND_DISK) on this path only, so it reads
    them instead of re-running the segment lineage.

    ``mix_rates`` (source → acceptance rate, the frozen artifact from
    ``functions.curation.source_mixing_rates``) inserts the domain-
    mixing stage between quality and the PPS cap: map-side seeded-hash
    acceptance, the doc_source_mixing rule. Rates are frozen inputs —
    not recomputed from this corpus — so the streaming funnel applying
    the same table yields the identical corpus.

    Without ``rejects_dir`` the partitioned write is the funnel's only
    action: every stage count, and the per-split counts, is a
    ``pyspark.sql.Observation`` filled while that write runs, and
    nothing is persisted or read back."""
    docs, n_input = _counted(docs)

    # 1. exact dedup — the library operator (operators/dedup.py), not a
    # reimplementation: the min-id-representative rule has one home
    deduped = dedup_fingerprint(docs, text_col, id_col)
    kept, n_dedup = _counted(deduped)

    # 2. boilerplate scrub: reassemble from kept segments only
    marks = segment_dedup_marks(
        kept, id_col, text_col, seg_len=seg_len,
        keep_cols=keep_cols, keep_seg_text=True,
    )
    scrubbed = (
        marks.groupBy(id_col, *keep_cols)
        .agg(reassembled_kept_text().alias(text_col))
        .filter(F.col(text_col) != "")
    )
    kept, n_scrub = _counted(scrubbed)
    # (reject_stage, dropped rows); the joins are analysed eagerly, so
    # they are built only when the rejects write will run
    rejected = [] if rejects_dir is None else [
        ("exact_dup", docs.join(deduped.select(id_col), id_col, "left_anti")),
        ("scrubbed_empty", deduped.join(scrubbed.select(id_col), id_col, "left_anti")),
    ]

    # 3. quality filter (the shared pinned classifier), then the
    # optional domain mixing against the frozen rate table
    for stage, keep in _doc_filters(id_col, text_col, mix_rates):
        rejected.append((stage, kept.filter(~keep)))
        kept = kept.filter(keep)

    # 4. optional deterministic PPS cap per source
    sampled = sample_per_source is not None
    if sampled:
        from datagouv_tools_spark.functions.text import token_count
        from datagouv_tools_spark.operators.sampling import pps_systematic

        after_mix, n_quality = _counted(kept)
        kept = pps_systematic(
            after_mix,
            "source",
            id_col,
            token_count(text_col) + F.lit(1),
            k=sample_per_source,
        )

    # 5. split + 6. write (partitioned by split); the split counts are
    # observed on the rows the write takes in
    final, split_n = _observed(
        kept.withColumn("split", split_assignment(id_col)),
        {s: F.count(F.when(F.col("split") == s, 1)) for s in SPLITS},
    )
    # the rejects write re-reads the dedup and scrub stages: cache them
    # for it rather than run the segment lineage a second time
    cached = [] if rejects_dir is None else [deduped, scrubbed]
    for df in cached:
        df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        final.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        if rejects_dir is not None:
            if sampled:
                # the cap dropped what the write did not take in; read
                # back with the known schema, as an empty write leaves
                # no file
                written = docs.sparkSession.read.schema(final.schema).parquet(
                    out_dir
                )
                rejected.append(
                    (
                        "pps_cap",
                        after_mix.join(written.select(id_col), id_col, "left_anti"),
                    )
                )
            cols = [id_col, *keep_cols, text_col]
            reduce(
                DataFrame.unionByName,
                [
                    df.select(*cols).withColumn("reject_stage", F.lit(stage))
                    for stage, df in rejected
                ],
            ).write.mode("overwrite").partitionBy("reject_stage").parquet(
                rejects_dir
            )
    finally:
        for df in cached:
            df.unpersist()
    split_counts = {s: n for s, n in split_n().items() if n}
    n_out = sum(split_counts.values())
    return CurationReport(
        n_input(), n_dedup(), n_scrub(), n_quality() if sampled else n_out,
        split_counts, n_after_sample=n_out if sampled else None,
    )


def _observed(
    df: DataFrame, aggs: dict[str, Column]
) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """``df`` with ``aggs`` observed by its next action, and a reader
    of their values to call once that action has returned.

    Spark drops an observed node from the executed plan when it proves
    the subtree empty, statically or through AQE, and the observation
    then holds no values. The reader computes that stage's aggregates
    with an explicit action instead: it never takes a missing value for
    zero, since AQE also prunes join sides that are not empty."""
    obs = Observation()
    exprs = [agg.alias(name) for name, agg in aggs.items()]

    def read() -> dict[str, int]:
        try:
            return obs.get
        except Py4JJavaError:  # unfilled: the node was not executed
            return df.agg(*exprs).first().asDict()

    return df.observe(obs, *exprs), read


def _counted(df: DataFrame) -> tuple[DataFrame, Callable[[], int]]:
    """``_observed`` for the row count of one funnel stage."""
    df, read = _observed(df, {"n": F.count(F.lit(1))})
    return df, lambda: read()["n"]


def _doc_filters(
    id_col: str, text_col: str, mix_rates: dict[str, float] | None
) -> list[tuple[str, Column]]:
    """The per-document stages after the scrub, in order, as
    (reject_stage, keep predicate): the quality threshold, then the
    optional frozen domain-mixing acceptance. Both funnels apply these,
    so the streamed corpus keeps the same documents as the batch one."""
    filters = [("quality", quality_logit(text_col) >= 0.0)]
    if mix_rates is not None:
        filters.append(
            ("mixing", mixing_accept(mixing_rate_expr(mix_rates), id_col))
        )
    return filters


def stream_curate(
    doc_stream: DataFrame,
    store_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_len: int = 8,
    keep_cols: tuple[str, ...] = ("source", "lang"),
    mix_rates: dict[str, float] | None = None,
    **gate_kwargs,
):
    """The curation funnel as a CONTINUOUS stream: documents flow
    through the segment-scrub gate (streaming/scrub_gate.py), and its
    ``post_transform`` seam applies the remaining batch stages —
    drop empty-scrubbed docs (which subsumes doc-level exact dedup: an
    exact duplicate's every segment was already seen, so it scrubs to
    empty), drop quality-logit failures, optionally apply the frozen
    domain-mixing rate table, stamp the split — before each
    micro-batch's output lands. Same shared expressions as
    ``curate_corpus``, so the streamed corpus equals the batch corpus
    when batches arrive in id order (pinned by test).

    ``mix_rates`` is the SAME frozen artifact the batch funnel takes
    (``source_mixing_rates`` over a profiling corpus). Deliberately
    NOT per-batch observed counts: mixing against counts-so-far would
    re-weight every micro-batch differently as the stream accumulates
    and the final corpus would depend on batch boundaries — with a
    frozen table, acceptance is a pure per-doc function and stream ==
    batch holds exactly.

    Returns the started StreamingQuery (availableNow by default via
    stream_scrub's trigger)."""
    from datagouv_tools_spark.streaming.scrub_gate import stream_scrub

    def post(cleaned: DataFrame) -> DataFrame:
        out = cleaned.filter(F.col("cleaned_text") != "").withColumnRenamed(
            "cleaned_text", text_col
        )
        for _, keep in _doc_filters(id_col, text_col, mix_rates):
            out = out.filter(keep)
        return out.withColumn("split", split_assignment(id_col))

    return stream_scrub(
        doc_stream, store_path, out_path, checkpoint,
        id_col=id_col, text_col=text_col, seg_len=seg_len,
        keep_cols=keep_cols, post_transform=post, **gate_kwargs,
    )
