"""Streaming state stores: the one module that knows how the gates and
maintainers under ``streaming/`` keep their state on disk.

Three store shapes cover every gate and maintainer:

- **Bucketed** — parquet partitioned by ``__bucket = pmod(xxhash64(key),
  n)`` (plus ``__epoch`` / ``__batch`` for the TTL and scrub gates).
  A micro-batch reads only the buckets it touches and rewrites them by
  per-write dynamic partition overwrite, so its cost scales with the
  touched buckets, never with history. Used by the dedup, near-dup and
  scrub gates, ``upsert``, ``rollup_maintain`` and ``scd2_maintain``.
- **Versioned** — whole-state ``v{N}`` directories. Readers resolve the
  highest committed version, and older versions are pruned only after
  the next one commits, so no crash window exposes missing or
  half-merged state. A sketch/counter version is committed by Spark's
  own ``_SUCCESS`` marker and carries its (run, seq) replay tag in the
  data as ``__run``/``__seq``; a join-view version holds several
  relations plus ``tag.json``, committed by a ``_COMMIT`` marker
  written last.
- **Applied-batches ledger** — a (run_key, batch_id) parquet table
  beside an index, for appenders whose writes are not idempotent.

Every probe goes through the Hadoop FileSystem API, so a store works on
any scheme the reader accepts (local, hdfs://, s3a://).
"""

from __future__ import annotations

import hashlib
import json
from typing import Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def _fs(spark: SparkSession, path: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs(spark, path)
    return fs.exists(jpath)


def _delete(spark: SparkSession, path: str) -> None:
    fs, jpath = _fs(spark, path)
    fs.delete(jpath, True)


# --- bucketed stores --------------------------------------------------------


def bucket(cols: list[str], n: int) -> Column:
    """The store's partition key: ``pmod(xxhash64(cols), n)``."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n)).cast("int")


def has_data(spark: SparkSession, path: str) -> bool:
    """True when the store holds at least one ``__bucket=`` partition.

    A bare root is not data: a history that deletes every row leaves
    the root behind with no partitions, and a first write that dies
    leaves only its ``.spark-staging-*`` dir. Reading either with
    ``spark.read.parquet`` raises UNABLE_TO_INFER_SCHEMA, and every
    replay of the batch would fail the same way, so both count as an
    empty store."""
    fs, jpath = _fs(spark, path)
    if not fs.exists(jpath):
        return False
    return any(
        st.getPath().getName().startswith("__bucket=")
        for st in fs.listStatus(jpath)
    )


def touched_buckets(df: DataFrame) -> list[int]:
    """The ``__bucket`` values a keyed micro-batch touches (≤ n values;
    an empty list means an empty batch)."""
    return [r["__bucket"] for r in df.select("__bucket").distinct().collect()]


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Every row of a bucketed store, or None while it holds no data."""
    if not has_data(spark, path):
        return None
    # an earlier batch overwrote partitions; drop any cached file
    # listing or the scan resolves to deleted part-files
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def read_buckets(
    spark: SparkSession, path: str, touched: list[int], min_epoch: int | None = None
) -> DataFrame | None:
    """The store's rows in the ``touched`` buckets (partition-pruned),
    or None while the store holds no data. A TTL store reads only the
    epochs from ``min_epoch`` on."""
    df = read_store(spark, path)
    if df is None:
        return None
    df = df.filter(F.col("__bucket").isin(touched))
    return df if min_epoch is None else df.filter(F.col("__epoch") >= min_epoch)


def write_partitions(df: DataFrame, path: str, *cols: str) -> None:
    """Dynamic partition overwrite: only the partitions present in
    ``df`` are replaced. Set per write, never as a session conf, so
    concurrent streams sharing the session stay safe."""
    df.write.option("partitionOverwriteMode", "dynamic").mode(
        "overwrite"
    ).partitionBy(*cols).parquet(path)


def replace_buckets(
    df: DataFrame,
    path: str,
    touched: list[int],
    with_rows: Iterable[int] | None = None,
) -> None:
    """Make each touched bucket hold exactly ``df``'s rows for it.

    ``df`` MUST already be materialized (localCheckpoint) when its plan
    reads ``path``. Dynamic overwrite only rewrites partitions present
    in the data, so a touched bucket whose every row was deleted would
    keep its stale files (resurrecting a fully-deleted group); those
    buckets are removed explicitly. A caller that can prove every
    touched bucket holds rows (append-only state) passes
    ``with_rows=touched`` and skips the distinct-collect job."""
    spark = df.sparkSession
    with_rows = set(touched_buckets(df) if with_rows is None else with_rows)
    if with_rows:
        write_partitions(df, path, "__bucket")
    elif not _exists(spark, path):
        # nothing to write and no store yet: an empty parquet dir would
        # only break later schema inference
        return
    for b in set(touched) - with_rows:
        _delete(spark, f"{path}/__bucket={b}")


def merge_buckets(
    new: DataFrame,
    path: str,
    touched: list[int],
    combine: Callable[[DataFrame], DataFrame] = DataFrame.distinct,
    epoch: int = 0,
    min_epoch: int | None = None,
) -> None:
    """Fold ``new`` into the touched buckets: stored rows ∪ new →
    ``combine`` → materialize → dynamic overwrite.

    A TTL store (``min_epoch`` given) is also partitioned by
    ``__epoch``: ``new`` lands in ``epoch``, only that epoch's slice is
    read and rewritten (older epochs are immutable), and epochs before
    ``min_epoch`` are vacuumed.

    The merged slice is materialized BEFORE the overwrite of the path it
    reads: with a direct-write committer a write that still lazily read
    its own target could lose touched buckets on task failure. Bounded
    by the touched buckets."""
    spark = new.sparkSession
    old = read_buckets(spark, path, touched)
    partition_by = ["__bucket"]
    if min_epoch is not None:
        new = new.withColumn("__epoch", F.lit(epoch))
        partition_by.append("__epoch")
        if old is not None:
            old = old.filter(F.col("__epoch") == epoch)
    if old is not None:
        new = old.select(*new.columns).unionByName(new)
    write_partitions(combine(new).localCheckpoint(eager=True), path, *partition_by)
    if min_epoch is not None:
        vacuum_epochs(spark, path, min_epoch)


def vacuum_epochs(spark: SparkSession, path: str, min_epoch: int) -> None:
    """Drop ``__epoch`` partition dirs older than ``min_epoch``: TTL
    expiry is a directory delete, never a rewrite."""
    if not _exists(spark, path):
        return
    fs, _ = _fs(spark, path)
    glob = spark._jvm.org.apache.hadoop.fs.Path(f"{path}/__bucket=*/__epoch=*")
    for st in fs.globStatus(glob):
        p = st.getPath()
        if int(p.getName().split("=", 1)[1]) < min_epoch:
            fs.delete(p, True)


# --- versioned stores -------------------------------------------------------


def already_applied(run, seq, run_key: str, batch_id: int) -> bool:
    """The replay check: a (run, seq) tag shows ``batch_id`` of
    ``run_key``'s stream (or a later batch) already committed."""
    return run == run_key and int(seq) >= batch_id


def _versions(
    spark: SparkSession, root: str, marker: str = "_SUCCESS"
) -> list[tuple[int, str, bool]]:
    """All ``v{N}`` subdirs as (N, path, committed); committed means
    ``marker`` exists inside."""
    fs, jroot = _fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            p = f"{root}/{name}"
            ok = fs.exists(spark._jvm.org.apache.hadoop.fs.Path(f"{p}/{marker}"))
            out.append((int(name[1:]), p, ok))
    return out


def current_version(
    spark: SparkSession, root: str, marker: str = "_SUCCESS"
) -> str | None:
    """Path of the highest committed version, or None."""
    committed = [(n, p) for n, p, ok in _versions(spark, root, marker) if ok]
    return max(committed)[1] if committed else None


def read_committed(spark: SparkSession, root: str) -> DataFrame | None:
    """The highest ``_SUCCESS``-committed version, or None."""
    path = current_version(spark, root)
    if path is None:
        return None
    spark.catalog.refreshByPath(path)
    return spark.read.parquet(path)


def read_tag(spark: SparkSession, version_path: str) -> dict:
    """A ``_COMMIT`` version's ``tag.json`` ({"run", "seq"})."""
    fs, _ = _fs(spark, version_path)
    stream = fs.open(spark._jvm.org.apache.hadoop.fs.Path(f"{version_path}/tag.json"))
    try:
        return json.loads(bytes(stream.readAllBytes()).decode("utf-8"))
    finally:
        stream.close()


def commit_version(
    spark: SparkSession,
    root: str,
    write: Callable[[str], None],
    tag: tuple[str, int] | None = None,
) -> None:
    """Write the store's next version, then prune every older one.

    ``write(target)`` lands the version's data. With ``tag`` the
    version is a ``_COMMIT`` store's: ``tag.json`` goes next and the
    ``_COMMIT`` marker LAST. Without, Spark's ``_SUCCESS`` commits it.
    The write may read the previous version, whose files stay in place
    until after this commit."""
    listed = _versions(spark, root)
    nxt = max((n for n, _, _ in listed), default=-1) + 1
    target = f"{root}/v{nxt}"
    write(target)
    if tag is not None:
        fs, _ = _fs(spark, root)
        path = spark._jvm.org.apache.hadoop.fs.Path
        out = fs.create(path(f"{target}/tag.json"), True)
        try:
            out.write(
                bytearray(json.dumps({"run": tag[0], "seq": tag[1]}).encode("utf-8"))
            )
        finally:
            out.close()
        fs.create(path(f"{target}/_COMMIT"), True).close()
    for _n, p, _ok in listed:
        _delete(spark, p)


_MERGES = {
    "add": lambda old, new: F.coalesce(old, F.lit(0)) + F.coalesce(new, F.lit(0)),
    "min": F.least,
}


def fold_versioned(
    inc: DataFrame,
    root: str,
    keys: list[str],
    value: str,
    run_key: str,
    batch_id: int,
    merge: str = "add",
    extra: dict[str, Column] | None = None,
) -> None:
    """One maintainer step on a ``_SUCCESS`` versioned store of
    (keys, bigint value) rows: read the committed version, skip a
    replayed batch, full-outer merge ``inc`` in, tag, commit.

    ``merge="add"`` sums and is not idempotent, so the (run, seq) tag
    skip is load-bearing. ``merge="min"`` is idempotent: folding a
    batch twice cannot change a minimum, so the tag is written but
    never consulted. ``extra`` columns are stamped after the tag."""
    spark = inc.sparkSession
    stored = read_committed(spark, root)
    new = inc.select(*keys, F.col(value).alias("__new"))
    if stored is None:
        merged = new.select(*keys, F.col("__new").cast("bigint").alias(value))
    else:
        if merge == "add":
            tag = stored.select("__run", "__seq").first()
            if tag is not None and already_applied(*tag, run_key, batch_id):
                return
        old = stored.select(*keys, F.col(value).alias("__old"))
        merged = old.join(new, keys, "full_outer").select(
            *keys,
            _MERGES[merge](F.col("__old"), F.col("__new")).cast("bigint").alias(value),
        )
    out = merged.withColumn("__run", F.lit(run_key)).withColumn(
        "__seq", F.lit(int(batch_id)).cast("bigint")
    )
    for name, col in (extra or {}).items():
        out = out.withColumn(name, col)
    commit_version(spark, root, out.write.mode("overwrite").parquet)


# --- applied-batches ledger -------------------------------------------------


def run_key_for_checkpoint(checkpoint: str) -> str:
    """Stable ledger namespace for one logical stream: micro-batch ids
    are unique only WITHIN a checkpoint, so the ledger keys on
    (run_key, batch_id). A restart with a fresh checkpoint gets a fresh
    run_key — its batches 0,1,... are new work, not replays — while a
    recovery on the same checkpoint keeps the run_key and the ledger
    skip applies."""
    return hashlib.md5(checkpoint.encode()).hexdigest()[:16]


def applied_batch_ids(spark: SparkSession, root: str, run_key: str) -> set[int]:
    """Batch ids of ``run_key``'s stream recorded in the ledger under
    ``root``."""
    ledger = f"{root}/applied_batches"
    if not _exists(spark, ledger):
        return set()
    rows = spark.read.parquet(ledger).filter(F.col("run_key") == run_key).collect()
    return {int(r["batch_id"]) for r in rows}


def apply_once(
    spark: SparkSession,
    root: str,
    run_key: str,
    batch_id: int,
    apply: Callable[[], None],
) -> None:
    """Run ``apply`` unless the ledger under ``root`` already records
    (run_key, batch_id), then record it. The ledger row lands AFTER the
    data (output-first): a crash between the two re-runs ``apply`` on
    redelivery, so ``apply`` must heal its own duplicates."""
    if int(batch_id) in applied_batch_ids(spark, root, run_key):
        return
    apply()
    spark.createDataFrame(
        [(run_key, int(batch_id))], "run_key string, batch_id bigint"
    ).write.mode("append").parquet(f"{root}/applied_batches")
