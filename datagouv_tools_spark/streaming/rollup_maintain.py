"""Continuously maintain a keyed rollup from a CDC changelog stream.

The batch operator (``operators/incremental.py``) proves the pure
delta-algebra contract: count/sum from the delta alone, min/max
repaired for dirty keys only. The STREAMING maintainer has one extra
obligation batch mode doesn't: ``foreachBatch`` is at-least-once, so a
replayed micro-batch must not double-apply. Two designs exist:

- **delta mode** (``delta_maintain_batch``): pure algebraic merge —
  per batch, a |delta|-sized aggregation + a rollup-bucket-sized
  full-outer merge; the base is NEVER read, so only count/sum (and
  derived avg) are maintained. Idempotence comes from per-bucket
  (run_key, batch id) tags stored IN the state rows: marker and state
  commit atomically per partition, closing the data-vs-ledger crash
  window by construction instead of healing it.
- **recompute-bounded mode** (``maintain_rollup_batch``): keep BOTH
  stores
  bucket-partitioned by the same key hash; per batch, bring the touched
  base buckets up to date with an id-membership *effective delta*
  (inserts anti-joined on existing ids, deletes semi-joined — so a
  replayed batch reduces to a no-op), then REAGGREGATE only those
  buckets into the rollup partitions. Idempotence needs no ledger:
  every write is a pure function of the post-batch base slice, so any
  crash/replay interleaving converges on the next delivery. Per-batch
  cost is O(touched buckets), never O(table).

The trade is explicit: recompute-bounded re-aggregates touched-bucket
rows instead of only delta rows. With B buckets and a batch touching
t of them, that re-reads t/B of the table — size B so a bucket is an
executor-friendly unit and t/B stays small. When batches are huge or
buckets hot, delta mode below avoids the re-read entirely.

Consistency contract (tested): after any prefix of batches — including
replays and redeliveries — the rollup equals ``aggregate_base`` of the
base store, and both equal a from-scratch batch computation over the
surviving changelog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datagouv_tools_spark.operators.incremental import aggregate_base
from datagouv_tools_spark.streaming import store

__all__ = [
    "maintain_rollup_batch",
    "read_rollup",
    "delta_maintain_batch",
    "read_delta_rollup",
]

# the "store holds partitions" probe, under the name the rollup's
# randomized-history tests use
_has_buckets = store.has_data


def _net_batch(
    keyed: DataFrame,
    data_cols: list[str],
    id_col: str,
    op_col: str,
    delete_op: str,
    seq_col: str | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Collapse one micro-batch to at most ONE effective op per id.

    Same-id ops inside a single batch are real CDC traffic — an update
    is delete(old)+insert(new) (the documented delta format in
    operators/incremental.py), and Debezium-style feeds can carry
    create+delete of the same id in one poll. Applying inserts and
    deletes against the PRE-batch base independently mishandles both
    (an update would silently delete the row; insert-then-delete would
    leave it alive), so the batch is netted per id first:

    - ``seq_col`` given (an intra-batch ordering such as the changelog
      offset): last-op-wins. The final op per id is the one with the
      highest seq (ties broken insert-over-delete, the CDC convention
      where before/after images share a source offset). A chain whose
      final op is an insert preceded by any delete nets to REPLACE
      (delete old row + insert new values) — exactly the update
      semantics; a final delete nets to delete; an insert-only chain
      nets to a membership insert (applied only if the id is absent,
      which keeps full-batch replays no-ops).
    - no ``seq_col``: there is no way to order the chain, so an id with
      several inserts, or with both an insert and a delete, is REJECTED
      with a ValueError naming the ids — silent corruption is worse
      than a loud contract. Repeated deletes of one id are fine
      (idempotent) and are collapsed.

    Returns ``(inserts, replaces, delete_ids)`` where inserts/replaces
    carry ``data_cols`` and delete_ids carries ``id_col`` only;
    replaces must evict the stored row for their id before landing.
    """
    is_del = F.col(op_col) == delete_op
    if seq_col is None:
        stats = keyed.groupBy(id_col).agg(
            F.sum(F.when(~is_del, 1).otherwise(0)).alias("__ni"),
            F.sum(F.when(is_del, 1).otherwise(0)).alias("__nd"),
        )
        bad = (
            stats.filter(
                (F.col("__ni") > 1) | ((F.col("__ni") > 0) & (F.col("__nd") > 0))
            )
            .select(id_col)
            .limit(5)
            .collect()
        )
        if bad:
            ids = [r[id_col] for r in bad]
            raise ValueError(
                "micro-batch carries multiple ops for id(s) "
                f"{ids}: without seq_col the net effect is ambiguous "
                "(delete+insert is an update, insert+delete is a "
                "tombstone — indistinguishable unordered). Pass "
                "seq_col=<intra-batch ordering column> for "
                "last-op-wins netting."
            )
        ins = keyed.filter(~is_del).select(*data_cols)
        return ins, ins.filter(F.lit(False)), keyed.filter(is_del).select(
            id_col
        ).distinct()

    from pyspark.sql.window import Window

    w_last = Window.partitionBy(id_col).orderBy(
        F.col(seq_col).desc(), is_del.cast("int").asc()
    )
    flagged = keyed.withColumn("__rn", F.row_number().over(w_last)).withColumn(
        "__had_del",
        F.max(is_del.cast("int")).over(Window.partitionBy(id_col)),
    )
    last = flagged.filter(F.col("__rn") == 1)
    dels = last.filter(is_del).select(id_col)
    final_ins = last.filter(~is_del)
    ins = final_ins.filter(F.col("__had_del") == 0).select(*data_cols)
    repl = final_ins.filter(F.col("__had_del") == 1).select(*data_cols)
    return ins, repl, dels


def maintain_rollup_batch(
    delta: DataFrame,
    base_path: str,
    rollup_path: str,
    key_cols: list[str],
    id_col: str,
    value_col: str,
    n_buckets: int = 16,
    op_col: str = "op",
    delete_op: str = "D",
    seq_col: str | None = None,
) -> None:
    """Apply one changelog micro-batch (rows: key cols + ``id_col`` +
    ``value_col`` + ``op_col``) to the base store and its rollup.

    ``id_col`` must uniquely identify a base row (the CDC primary key);
    idempotence is defined against it — re-inserting an id that exists
    or re-deleting one that doesn't is a no-op, which is exactly what a
    replayed micro-batch reduces to. Same-id ops WITHIN one batch (a
    CDC update's delete+insert pair, or insert-then-delete of a fresh
    id) are netted per id first — ordered by ``seq_col`` when given,
    rejected as ambiguous when not (see :func:`_net_batch`). A netted
    update replaces the stored row, so replaying the batch rewrites the
    same bytes; replaying an OLD update after a newer one re-applies
    the old image, the same behavior every CDC consumer has for
    redelivered updates.
    """
    spark = delta.sparkSession
    keyed = delta.withColumn("__bucket", store.bucket(key_cols, n_buckets))
    touched = store.touched_buckets(keyed)
    if not touched:
        return

    data_cols = [*key_cols, id_col, value_col, "__bucket"]
    base_slice = store.read_buckets(spark, base_path, touched)
    if base_slice is None:
        base_slice = keyed.filter(F.lit(False))
    base_slice = base_slice.select(*data_cols)

    ins, repl, dels = _net_batch(
        keyed, data_cols, id_col, op_col, delete_op, seq_col
    )
    # effective delta = the not-yet-applied part; a full replay of an
    # applied batch makes the membership sides empty (and the replace
    # side rewrite identical rows), so the writes below rewrite the
    # slice to its current state (byte-stable no-op)
    eff_ins = ins.join(base_slice.select(id_col), id_col, "left_anti").unionByName(
        repl
    )
    evicted = dels.unionByName(repl.select(id_col))
    # materialize ONCE, before the overwrite below invalidates the very
    # files this plan reads — both the base write and the rollup
    # aggregation then run off the checkpointed slice, not the store
    new_base_slice = (
        base_slice.join(evicted, id_col, "left_anti")
        .unionByName(eff_ins)
        .localCheckpoint(eager=True)
    )
    store.replace_buckets(new_base_slice, base_path, touched)

    new_rollup_slice = aggregate_base(new_base_slice, key_cols, value_col).withColumn(
        "__bucket", store.bucket(key_cols, n_buckets)
    )
    store.replace_buckets(new_rollup_slice, rollup_path, touched)


def read_rollup(spark, rollup_path: str) -> DataFrame | None:
    """The maintained rollup, sans layout column (None when the store
    holds no partitions — i.e. every group was deleted)."""
    df = store.read_store(spark, rollup_path)
    return None if df is None else df.drop("__bucket")


# --- delta mode -----------------------------------------------------------
#
# Algebraic measures only (count/sum; avg derives) — the cheapest
# maintenance: per batch, |delta| aggregation + a rollup-bucket-sized
# merge, the base NEVER read (min/max need the recompute-bounded mode
# above, or the batch operator with a base). Idempotence without a
# ledger: every bucket partition's rows carry the (run_key, batch id)
# that last wrote them, so the applied-marker and the state COMMIT
# ATOMICALLY per partition — the crash window between "data written"
# and "ledger written" that forces index_ingest's heal probes cannot
# exist. A redelivered batch sees its own tag (or a newer one) on a
# bucket and skips it; buckets the crashed attempt never wrote carry
# the older tag and get the delta applied; a bucket the crashed attempt
# emptied re-applies the same net-nonpositive delta to nothing and
# stays empty. Restarting the SOURCE from scratch against a maintained
# rollup (fresh checkpoint ⇒ fresh run_key) is reprocessing, not
# replay — delta aggregates cannot detect it (no ids survive in the
# state); keep the changelog offsets with the checkpoint.


def delta_maintain_batch(
    delta: DataFrame,
    rollup_path: str,
    key_cols: list[str],
    value_col: str,
    run_key: str,
    batch_id: int,
    n_buckets: int = 16,
    op_col: str = "op",
    delete_op: str = "D",
) -> None:
    """Apply one changelog micro-batch to an algebraic (n, total)
    rollup by pure delta merge, idempotent per (run_key, batch id) via
    in-state bucket tags."""
    spark = delta.sparkSession
    keyed = delta.withColumn("__bucket", store.bucket(key_cols, n_buckets))
    touched = store.touched_buckets(keyed)
    if not touched:
        return

    state_cols = [*key_cols, "n", "total", "__run", "__seq", "__bucket"]
    slice_ = store.read_buckets(spark, rollup_path, touched)
    if slice_ is not None:
        slice_ = slice_.select(*state_cols)
        applied = {
            r["__bucket"]
            for r in slice_.select("__bucket", "__run", "__seq")
            .distinct()
            .collect()
            if store.already_applied(r["__run"], r["__seq"], run_key, batch_id)
        }
    else:
        slice_ = (
            keyed.select(*key_cols)
            .withColumn("n", F.lit(0).cast("bigint"))
            .withColumn("total", F.lit(0).cast("decimal(28,6)"))
            .withColumn("__run", F.lit(""))
            .withColumn("__seq", F.lit(0).cast("bigint"))
            .withColumn("__bucket", F.lit(0))
            .filter(F.lit(False))
        )
        applied = set()

    apply_buckets = [b for b in touched if b not in applied]
    if not apply_buckets:
        return

    sign = F.when(F.col(op_col) == delete_op, F.lit(-1)).otherwise(F.lit(1))
    d = (
        keyed.filter(F.col("__bucket").isin(apply_buckets))
        .groupBy(*key_cols)
        .agg(
            F.sum(sign).cast("bigint").alias("__dn"),
            F.sum(sign * F.col(value_col).cast("decimal(28,6)")).alias("__dtotal"),
        )
    )
    old = slice_.filter(F.col("__bucket").isin(apply_buckets)).select(
        *key_cols, F.col("n").alias("__n"), F.col("total").alias("__total")
    )
    merged = (
        old.join(d, key_cols, "full_outer")
        .select(
            *key_cols,
            (F.coalesce("__n", F.lit(0)) + F.coalesce("__dn", F.lit(0)))
            .cast("bigint")
            .alias("n"),
            (
                F.coalesce(F.col("__total"), F.lit(0).cast("decimal(28,6)"))
                + F.coalesce(F.col("__dtotal"), F.lit(0).cast("decimal(28,6)"))
            )
            .cast("decimal(28,6)")
            .alias("total"),
        )
        .filter(F.col("n") > 0)
        .withColumn("__run", F.lit(run_key))
        .withColumn("__seq", F.lit(int(batch_id)).cast("bigint"))
        .withColumn("__bucket", store.bucket(key_cols, n_buckets))
        .localCheckpoint(eager=True)
    )
    store.replace_buckets(merged, rollup_path, apply_buckets)


def read_delta_rollup(spark, rollup_path: str) -> DataFrame | None:
    """The maintained algebraic rollup, sans layout/tag columns (None
    when every group was deleted)."""
    df = store.read_store(spark, rollup_path)
    return None if df is None else df.drop("__bucket", "__run", "__seq")
