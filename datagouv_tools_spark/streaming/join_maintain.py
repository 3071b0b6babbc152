"""Continuously maintain a materialized equi-join view from a
two-sided CDC stream.

The batch operator (``operators/incremental.maintain_join``) proves
the signed delta algebra: ΔV = ΔA⋈B + A⋈ΔB + ΔA⋈ΔB, three delta-sized
joins, never a re-join of the bases. The STREAMING maintainer adds the
two obligations foreachBatch imposes:

- **Multi-relation atomicity.** One micro-batch must move THREE
  relations (the A snapshot, the B snapshot, the view) together — a
  crash that lands A but not the view would desynchronize them
  forever. So a commit is ONE new ``v{N}`` directory containing all
  three relations plus the batch tag, made visible by a ``_COMMIT``
  marker written LAST; readers resolve the highest committed version.
  Any crash window leaves either the complete previous version (died
  before the marker → the orphan dir is superseded on redelivery) or
  the complete next one — never a torn mix.
- **At-least-once redelivery.** The committed tag carries
  (run_key, batch_id); a redelivered batch sees tag.seq ≥ its own id
  and skips. Within one delivery the signed algebra is already
  chain-safe at full-row granularity: delete(old)+insert(new) of one
  logical row applies both images, insert+delete of the same full row
  nets to zero.

Consistency contract (tested): after any prefix of batches — including
replays and a crash-window redelivery — the stored view equals
``a_store ⋈ b_store`` equals a from-scratch join over the surviving
changelog.

Batch format: one CDC row per change with ``side`` ∈ {a, b} naming the
source relation (the usual one-topic-per-database multiplex, table
name as a column), ``op`` ∈ {I, D}, the join key, and that side's
payload columns (the other side's NULL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.incremental import maintain_join
from datagouv_tools_spark.streaming import store

__all__ = [
    "join_maintain_batch",
    "read_join_store",
]


def read_join_store(
    spark: SparkSession, root: str, relation: str = "view"
) -> DataFrame | None:
    """The named relation (``a`` / ``b`` / ``view``) of the highest
    committed version, or None before the first commit."""
    cur = store.current_version(spark, root, "_COMMIT")
    if cur is None:
        return None
    path = f"{cur}/{relation}"
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def _signed_apply(base: DataFrame, delta: DataFrame, op_col: str) -> DataFrame:
    """Post-batch base snapshot: net the batch per FULL row, evict net
    deletes, append net inserts — the base-store half of the view's
    signed algebra (a replayed-within-batch insert+delete nets out)."""
    cols = base.columns
    net = (
        delta.select(
            *cols,
            F.when(F.col(op_col) == "D", F.lit(-1))
            .otherwise(F.lit(1))
            .cast("bigint")
            .alias("__s"),
        )
        .groupBy(*cols)
        .agg(F.sum("__s").alias("__net"))
    )
    removals = net.filter(F.col("__net") < 0).select(*cols)
    additions = net.filter(F.col("__net") > 0).select(*cols)
    return base.join(F.broadcast(removals), cols, "left_anti").unionByName(
        additions
    )


def join_maintain_batch(
    batch: DataFrame,
    root: str,
    run_key: str,
    batch_id: int,
    key_cols: list[str],
    a_cols: list[str],
    b_cols: list[str],
    side_col: str = "side",
    op_col: str = "op",
) -> None:
    """Fold one CDC micro-batch into the join store at ``root``.

    ``a_cols`` / ``b_cols`` are each side's payload columns (key
    excluded). The view's columns are key + a_cols + b_cols.
    """
    spark = batch.sparkSession
    path = store.current_version(spark, root, "_COMMIT")
    if path is not None:
        tag = store.read_tag(spark, path)
        if store.already_applied(tag.get("run"), tag.get("seq", -1), run_key, batch_id):
            return  # redelivered batch: already committed
        a_old = spark.read.parquet(f"{path}/a")
        b_old = spark.read.parquet(f"{path}/b")
        view = spark.read.parquet(f"{path}/view")
    else:
        a_old = b_old = view = None

    da = batch.filter(F.col(side_col) == "a").select(
        *key_cols, *a_cols, op_col
    )
    db = batch.filter(F.col(side_col) == "b").select(
        *key_cols, *b_cols, op_col
    )
    if a_old is None:
        a_old = da.filter(F.lit(False)).drop(op_col)
        b_old = db.filter(F.lit(False)).drop(op_col)
        view = a_old.join(b_old, key_cols)

    new_a = _signed_apply(a_old, da, op_col)
    new_b = _signed_apply(b_old, db, op_col)
    new_view = maintain_join(view, a_old, b_old, da, db, key_cols, op_col)

    from concurrent.futures import ThreadPoolExecutor

    def write(target: str) -> None:
        # The three relation writes are independent jobs over the SAME
        # committed v{N-1} inputs — submit them concurrently (Spark's
        # scheduler interleaves their stages across the executor pool;
        # atomicity is unaffected because the _COMMIT marker still goes
        # last, after ALL three have landed).
        with ThreadPoolExecutor(max_workers=3) as pool:
            futs = [
                pool.submit(df.write.mode("overwrite").parquet, f"{target}/{rel}")
                for df, rel in ((new_a, "a"), (new_b, "b"), (new_view, "view"))
            ]
            for f in futs:
                f.result()

    store.commit_version(spark, root, write, tag=(run_key, batch_id))
