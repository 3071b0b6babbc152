"""Shared curation-stage expressions — single source of truth.

These constants and expression builders are used by BOTH the
oracle-checked query surface (queries.doc_quality_logit /
doc_split_assignment / doc_boilerplate_scrub) and the production
compositions (pipelines/curate.py, streaming/scrub_gate.py). Keeping
one copy is what makes "the pipeline has the same semantics as the
oracle-checked query" a structural guarantee instead of a convention:
retuning a weight, a stopword, or the split seed changes every consumer
together, and the DuckDB oracles keep verifying all of them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.text import tokens
from datagouv_tools_spark.functions.xhash import md5_hash60

__all__ = [
    "QUALITY_STOPWORDS",
    "SPLITS",
    "quality_logit",
    "split_assignment",
    "reassembled_kept_text",
    "mixing_accept",
    "source_mixing_rates",
    "mixing_rate_expr",
]

#: English stopword set shared by the quality features (and mirrored
#: literally in the doc_quality_logit oracle SQL).
QUALITY_STOPWORDS: tuple[str, ...] = (
    "the", "a", "of", "and", "to", "in", "is", "on", "for", "with",
)


def quality_logit(text_col: str = "text") -> Column:
    """The pinned linear quality classifier (doc_quality_logit):
    z = round(1.7·distinct_ratio + 0.9·length_term + 2.1·stopword_ratio
    − 1.2, 6). Pure +,*,/ double arithmetic in a fixed order — bit-equal
    across engines; z >= 0 is the keep threshold."""
    ts = tokens(text_col)
    n = F.size(ts)
    stops = F.array(*[F.lit(s) for s in QUALITY_STOPWORDS])
    nz = n > 0
    dr = F.when(
        nz, F.size(F.array_distinct(ts)).cast("double") / n.cast("double")
    ).otherwise(0.0)
    lt = F.least(n, F.lit(200)).cast("double") / F.lit(200.0)
    sw = F.when(
        nz,
        F.size(F.filter(ts, lambda t: F.array_contains(stops, t))).cast(
            "double"
        )
        / n.cast("double"),
    ).otherwise(0.0)
    return F.round(
        F.lit(1.7) * dr + F.lit(0.9) * lt + F.lit(2.1) * sw - F.lit(1.2), 6
    )


#: Every split name ``split_assignment`` can return, in bucket order.
SPLITS: tuple[str, ...] = ("train", "val", "test")


def split_assignment(id_col: str = "doc_id", seed: str = "split42") -> Column:
    """The deterministic 80/10/10 train/val/test assignment
    (doc_split_assignment): seeded md5 bucket of the id — stable across
    engines, reruns, and cluster sizes."""
    bucket = F.pmod(
        md5_hash60(
            F.concat_ws("-", F.col(id_col).cast("string"), F.lit(seed))
        ),
        F.lit(100),
    )
    train, val, test = SPLITS
    return (
        F.when(bucket < 80, F.lit(train))
        .when(bucket < 90, F.lit(val))
        .otherwise(F.lit(test))
    )


def reassembled_kept_text() -> Column:
    """Aggregate expression rebuilding a document from its kept
    segments in seg_idx order (the doc_boilerplate_scrub reassembly).
    Use inside groupBy(id).agg(...) over segment_dedup_marks output
    with keep_seg_text=True; all-dropped docs yield ''."""
    return F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("kept"), F.struct("seg_idx", "seg"))
                )
            ),
            lambda x: x["seg"],
        ),
        " ",
    )


def mixing_accept(
    rate: Column, id_col: str = "doc_id", seed: str = "mix42"
) -> Column:
    """The doc_source_mixing acceptance rule: a doc survives when its
    seeded md5 bucket (uniform in [0, 1)) falls below the per-source
    ``rate``. Pure hash arithmetic — a doc's fate depends only on its
    id and the rate, never on partitioning, arrival order, or rerun,
    which is exactly what lets the STREAMING funnel apply the same
    mixing as the batch funnel and produce the identical corpus."""
    return (
        md5_hash60(
            F.concat_ws("-", F.col(id_col).cast("string"), F.lit(seed))
        ).cast("double")
        / F.lit(1152921504606846976.0)  # 2^60
    ) < rate


def source_mixing_rates(
    docs,
    shares: dict[str, float],
    default_share: float,
    source_col: str = "source",
) -> dict[str, float]:
    """Profile a corpus into per-source acceptance rates for the target
    ``shares`` (doc_source_mixing's rule: rate = min(1, share · total /
    n_source)). This is the PROFILING pass a production mixing stage
    runs once over a reference corpus; the resulting rates are a small
    frozen artifact the batch and streaming funnels both apply
    map-side — freezing them is what makes stream == batch exact
    (computing rates from counts-observed-so-far would drift as the
    stream accumulates)."""
    rows = (
        docs.groupBy(source_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    total = float(sum(r["n"] for r in rows))
    return {
        r[source_col]: min(
            1.0, shares.get(r[source_col], default_share) * total / r["n"]
        )
        for r in rows
    }


def mixing_rate_expr(
    mix_rates: dict[str, float], source_col: str = "source"
) -> Column:
    """The frozen rate table as a map-side expression (a literal map —
    a handful of sources — so no join, no shuffle); sources absent
    from the table keep everything (rate 1.0)."""
    pairs: list[Column] = []
    for s, r in sorted(mix_rates.items()):
        pairs += [F.lit(s), F.lit(float(r))]
    return F.coalesce(
        F.element_at(F.create_map(*pairs), F.col(source_col)), F.lit(1.0)
    )
