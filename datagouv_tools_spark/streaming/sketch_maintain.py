"""Continuously maintain mergeable sketches from a document stream.

The batch sketches (`operators/sketches.py`) earn their keep in
streaming: because merge is exact and state is CONSTANT-SIZE, a
micro-batch updates the store by reading ~KBs, never the corpus — the
sketch-sized analog of the rollup maintainers. Per batch:

    new_cells = stored_cells  ⊕  cells(batch)       (⊕ = ADD for CMS,
                                                      MIN for MinCount)

Idempotence uses the in-state tag design proven by
``streaming/rollup_maintain.delta_maintain_batch``: every store row
carries the (run_key, batch id) that last wrote it, so the
applied-marker commits atomically with the state, and a redelivered
batch sees its own tag and skips. The CMS add is NOT idempotent by
itself (re-adding double-counts — unlike the rollup's id-membership
deltas there are no ids to probe), which is exactly why the tag is
load-bearing here.

Durability: the store is VERSIONED (``streaming/store.py``), never
overwritten in place. A plain ``mode("overwrite")`` of the store
directory deletes the accumulated state before the new job commits — a
crash mid-write would lose EVERYTHING, and the at-least-once
redelivery would rebuild the sketch from only the redelivered batch: a
silent permanent undercount that breaks the "never undercounts"
contract. Instead each commit writes a fresh ``v{N}`` subdirectory (N
strictly increasing), readers resolve to the highest version whose
``_SUCCESS`` marker exists, and older versions are pruned only AFTER
the new one is fully committed. Every crash window therefore leaves a
complete previous version in place: a died write leaves an ignored
marker-less dir that the redelivery supersedes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.sketches import cms_cells
from datagouv_tools_spark.streaming import store

__all__ = [
    "cms_maintain_batch",
    "read_cms",
    "cms_estimate",
    "mincount_maintain_batch",
    "read_mincount",
    "mincount_estimate",
    "histogram_maintain_batch",
    "read_histogram",
]


def cms_maintain_batch(
    batch_tokens: DataFrame,
    store_path: str,
    run_key: str,
    batch_id: int,
    token_col: str = "tok",
    depth: int = 4,
    width: int = 1024,
) -> None:
    """Fold one micro-batch of token occurrences into the CMS store."""
    store.fold_versioned(
        cms_cells(batch_tokens, token_col, depth, width),
        store_path, ["i", "idx"], "c", run_key, batch_id,
        extra={"__width": F.lit(width)},
    )


def read_cms(spark, store_path: str) -> DataFrame | None:
    """The maintained cells, sans tag columns; ``None`` if the store
    has never committed a version (mirrors ``read_counters``)."""
    cur = store.read_committed(spark, store_path)
    if cur is None:
        return None
    return cur.drop("__run", "__seq", "__width")


def cms_estimate(spark, store_path: str, tokens: list[str]) -> dict[str, int]:
    """Point estimates for ``tokens`` from the maintained store
    (min over depth rows; never undercounts)."""
    from datagouv_tools_spark.operators.sketches import cms_index

    raw = store.read_committed(spark, store_path)
    if raw is None:
        raise FileNotFoundError(
            f"CMS store at {store_path!r} has no committed version"
        )
    meta = raw.select(F.max("i"), F.first("__width")).first()
    depth, width = int(meta[0]) + 1, int(meta[1])
    cells = raw.drop("__run", "__seq", "__width")
    probes = (
        spark.createDataFrame([(t,) for t in tokens], "tok string")
        .select("tok", F.explode(F.array(*[F.lit(i) for i in range(depth)])).alias("i"))
        .select("tok", "i", cms_index(F.col("tok"), F.col("i"), width).alias("idx"))
    )
    got = (
        probes.join(cells, ["i", "idx"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est"))
        .collect()
    )
    return {r["tok"]: int(r["est"]) for r in got}


# --- MinCount distinct sketch ---------------------------------------------
#
# The designed contrast with the CMS above: the MinCount merge is MIN,
# which is IDEMPOTENT — folding the same batch twice cannot change a
# bucket minimum — so replay safety needs no tag at all. The tag
# column is still written (observability: which batch last touched the
# store) but is never consulted for skipping.


def mincount_maintain_batch(
    batch: DataFrame,
    store_path: str,
    group_cols: list[str],
    key_col: str,
    run_key: str,
    batch_id: int,
    n_buckets: int = 64,
) -> None:
    """Fold one micro-batch of keys into the per-group MinCount store
    (rows: group cols + b + mv)."""
    from datagouv_tools_spark.operators.sketches import mincount_buckets

    store.fold_versioned(
        mincount_buckets(batch, group_cols, F.col(key_col), n_buckets),
        store_path, [*group_cols, "b"], "mv", run_key, batch_id, merge="min",
    )


def read_mincount(spark, store_path: str) -> DataFrame | None:
    """The maintained MinCount buckets, sans tag columns; ``None`` if
    the store has never committed a version (mirrors
    ``read_counters``)."""
    cur = store.read_committed(spark, store_path)
    if cur is None:
        return None
    return cur.drop("__run", "__seq")


def mincount_estimate(spark, store_path: str) -> DataFrame:
    """Per-group distinct estimates from the maintained buckets (the
    events_distinct_sketch estimator: Σ_b (2^53/(m_b+1) − 1), scaled
    ×1000 integer-exact)."""
    cells = read_mincount(spark, store_path)
    if cells is None:
        raise FileNotFoundError(
            f"MinCount store at {store_path!r} has no committed version"
        )
    group_cols = [c for c in cells.columns if c not in ("b", "mv")]
    return (
        cells.withColumn(
            "em",
            F.expr("9007199254740992000 DIV (mv + 1) - 1000").cast("decimal(38,0)"),
        )
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("em").alias("est_distinct_mille"),
        )
    )


# --- fixed-bin histogram sketch -------------------------------------------
#
# Same replay discipline as the CMS: the bin-wise ADD merge is NOT
# idempotent, so the (run_key, batch id) tag is load-bearing, and the
# versioned store makes the accumulated distribution survive every
# crash window.


def histogram_maintain_batch(
    batch: DataFrame,
    store_path: str,
    group_cols: list[str],
    value_col: str,
    run_key: str,
    batch_id: int,
    bin_width: float = 25.0,
    n_bins: int = 20,
) -> None:
    """Fold one micro-batch of values into the per-group histogram
    store (rows: group cols + b + c)."""
    from datagouv_tools_spark.operators.sketches import histogram_cells

    store.fold_versioned(
        histogram_cells(batch, group_cols, F.col(value_col), bin_width, n_bins),
        store_path, [*group_cols, "b"], "c", run_key, batch_id,
    )


def read_histogram(spark, store_path: str) -> DataFrame | None:
    """The maintained histogram cells, sans tag columns — feed to
    ``operators.sketches.histogram_quantiles`` for estimates.
    ``None`` if the store has never committed a version."""
    cur = store.read_committed(spark, store_path)
    if cur is None:
        return None
    return cur.drop("__run", "__seq")
