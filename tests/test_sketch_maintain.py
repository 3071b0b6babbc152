"""Streaming CMS maintenance (streaming/sketch_maintain.py): the store
after any batch prefix equals the batch-computed sketch of the union,
replays are no-ops (the in-state tag is load-bearing: CMS add has no
ids to heal with), and estimates never undercount."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from datagouv_tools_spark.operators.sketches import cms_cells
from datagouv_tools_spark.streaming.sketch_maintain import (
    cms_estimate,
    cms_maintain_batch,
    read_cms,
)
from datagouv_tools_spark.streaming.store import run_key_for_checkpoint

B0 = ["the", "cat", "the", "mat", "sat"]
B1 = ["the", "dog", "sat", "sat"]


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], "tok string")


def _cells(spark, path):
    return sorted(
        (r["i"], r["idx"], r["c"]) for r in read_cms(spark, path).collect()
    )


def test_two_batches_equal_batch_sketch_and_replay_noop(spark, tmp_path):
    path = str(tmp_path / "cms")
    cms_maintain_batch(_toks(spark, B0), path, "r", 0, width=64)
    cms_maintain_batch(_toks(spark, B1), path, "r", 1, width=64)
    want = sorted(
        (r["i"], r["idx"], r["c"])
        for r in cms_cells(_toks(spark, B0 + B1), width=64).collect()
    )
    got = _cells(spark, path)
    assert got == want

    # redelivery of batch 1: tag says applied → no double-add
    cms_maintain_batch(_toks(spark, B1), path, "r", 1, width=64)
    assert _cells(spark, path) == want
    # out-of-order replay of batch 0: tag is newer → no-op
    cms_maintain_batch(_toks(spark, B0), path, "r", 0, width=64)
    assert _cells(spark, path) == want


def test_estimates_never_undercount(spark, tmp_path):
    path = str(tmp_path / "cms")
    cms_maintain_batch(_toks(spark, B0), path, "r", 0, width=64)
    cms_maintain_batch(_toks(spark, B1), path, "r", 1, width=64)
    exact = Counter(B0 + B1)
    est = cms_estimate(spark, path, list(exact) + ["absent"])
    for w, n in exact.items():
        assert est[w] >= n, (w, est[w], n)
    # an absent token can only collide upward, never negative
    assert est["absent"] >= 0


def test_streaming_end_to_end(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "cms")
    ckpt = str(tmp_path / "ckpt")
    _toks(spark, B0).coalesce(1).write.parquet(str(src / "f1"))
    _toks(spark, B1).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("tok string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: cms_maintain_batch(
                b, path, run_key_for_checkpoint(ckpt), i, width=64
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = sorted(
        (r["i"], r["idx"], r["c"])
        for r in cms_cells(_toks(spark, B0 + B1), width=64).collect()
    )
    assert _cells(spark, path) == want


def test_mincount_maintenance_merge_is_naturally_idempotent(spark, tmp_path):
    """MIN-merge needs no replay tag: folding a batch twice (or out of
    order) is a no-op BY ALGEBRA, and the maintained store equals the
    batch sketch of the union. Estimates match the
    events_distinct_sketch arithmetic."""
    from datagouv_tools_spark.operators.sketches import mincount_buckets
    from datagouv_tools_spark.streaming.sketch_maintain import (
        mincount_estimate,
        mincount_maintain_batch,
        read_mincount,
    )

    path = str(tmp_path / "mc")
    b0 = [("t1", i) for i in range(40)] + [("t2", i) for i in range(5)]
    b1 = [("t1", i) for i in range(20, 60)] + [("t2", 99)]

    def df(rows):
        return spark.createDataFrame(rows, "g string, uid bigint")

    mincount_maintain_batch(df(b0), path, ["g"], "uid", "r", 0)
    mincount_maintain_batch(df(b1), path, ["g"], "uid", "r", 1)

    want = sorted(
        (r["g"], r["b"], r["mv"])
        for r in mincount_buckets(df(b0 + b1), ["g"], F.col("uid")).collect()
    )
    got = sorted(
        (r["g"], r["b"], r["mv"])
        for r in read_mincount(spark, path).collect()
    )
    assert got == want

    # replay both batches, out of order — algebraically a no-op
    mincount_maintain_batch(df(b1), path, ["g"], "uid", "r", 1)
    mincount_maintain_batch(df(b0), path, ["g"], "uid", "r", 0)
    again = sorted(
        (r["g"], r["b"], r["mv"])
        for r in read_mincount(spark, path).collect()
    )
    assert again == want

    est = {r["g"]: r for r in mincount_estimate(spark, path).collect()}
    # t1 has 60 distinct, t2 has 6 — estimates in a loose band
    assert 20_000 <= int(est["t1"]["est_distinct_mille"]) <= 200_000
    assert 1_000 <= int(est["t2"]["est_distinct_mille"]) <= 30_000


def test_crash_mid_write_preserves_accumulated_state(spark, tmp_path):
    """The r5 design overwrote the store dir in place: Spark deletes
    the path BEFORE the job commits, so a crash mid-write lost all
    accumulated counts and the redelivery silently rebuilt from one
    batch. The versioned store must survive that window: a marker-less
    (died) version dir is invisible to readers and superseded by the
    redelivery."""
    import os
    import pathlib

    path = str(tmp_path / "cms")
    cms_maintain_batch(_toks(spark, B0), path, "r", 0, width=64)
    state_after_b0 = _cells(spark, path)

    # simulate batch 1 dying mid-write: a version dir exists but its
    # _SUCCESS marker never landed
    versions = sorted(os.listdir(path))
    dead = pathlib.Path(path) / f"v{int(versions[-1][1:]) + 1}"
    dead.mkdir()
    (dead / "part-00000-dead.snappy.parquet").write_bytes(b"not parquet")

    # the accumulated state is still what readers resolve
    assert _cells(spark, path) == state_after_b0

    # redelivery of batch 1 applies on top of the SURVIVING state and
    # produces the same store as a clean run
    cms_maintain_batch(_toks(spark, B1), path, "r", 1, width=64)
    want = sorted(
        (r["i"], r["idx"], r["c"])
        for r in cms_cells(_toks(spark, B0 + B1), width=64).collect()
    )
    assert _cells(spark, path) == want
    # commit pruned every older/dead version: exactly one committed dir
    left = [d for d in os.listdir(path) if d.startswith("v")]
    assert len(left) == 1 and (pathlib.Path(path) / left[0] / "_SUCCESS").exists()


def test_histogram_maintenance_matches_union_and_replay_noop(spark, tmp_path):
    """Histogram bin-wise ADD is non-idempotent like the CMS, so the
    tag is load-bearing; after two batches the store equals the batch
    sketch of the union, replays (in and out of order) are no-ops, and
    quantile estimates from the maintained store are integer-exact."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.sketches import (
        histogram_cells,
        histogram_quantiles,
    )
    from datagouv_tools_spark.streaming.sketch_maintain import (
        histogram_maintain_batch,
        read_histogram,
    )

    path = str(tmp_path / "hist")
    b0 = [("a", float(v)) for v in range(0, 300, 3)]
    b1 = [("a", float(v)) for v in range(200, 500, 5)] + [("b", 42.0)]

    def df(rows):
        return spark.createDataFrame(rows, "g string, v double")

    histogram_maintain_batch(df(b0), path, ["g"], "v", "r", 0)
    histogram_maintain_batch(df(b1), path, ["g"], "v", "r", 1)

    want = sorted(
        (r["g"], r["b"], r["c"])
        for r in histogram_cells(df(b0 + b1), ["g"], F.col("v")).collect()
    )
    got = sorted(
        (r["g"], r["b"], r["c"])
        for r in read_histogram(spark, path).collect()
    )
    assert got == want

    # replay both, out of order — the tag rejects the double-add
    histogram_maintain_batch(df(b1), path, ["g"], "v", "r", 1)
    histogram_maintain_batch(df(b0), path, ["g"], "v", "r", 0)
    again = sorted(
        (r["g"], r["b"], r["c"])
        for r in read_histogram(spark, path).collect()
    )
    assert again == want

    # estimates from the maintained store == estimates from the batch
    # sketch of the union (mergeability is the whole point)
    est_stream = sorted(
        map(
            tuple,
            histogram_quantiles(
                read_histogram(spark, path), ["g"], [500, 900]
            ).collect(),
        )
    )
    est_batch = sorted(
        map(
            tuple,
            histogram_quantiles(
                histogram_cells(df(b0 + b1), ["g"], F.col("v")),
                ["g"],
                [500, 900],
            ).collect(),
        )
    )
    assert est_stream == est_batch


def test_histogram_streaming_end_to_end(spark, tmp_path):
    """Real file-stream replay through histogram_maintain_batch:
    the maintained store equals the batch sketch of all files."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.sketches import histogram_cells
    from datagouv_tools_spark.streaming.sketch_maintain import (
        histogram_maintain_batch,
        read_histogram,
    )
    from datagouv_tools_spark.streaming.store import run_key_for_checkpoint

    rows0 = [("a", float(v)) for v in range(0, 200, 2)]
    rows1 = [("a", float(v)) for v in range(150, 400, 5)] + [("b", 7.0)]
    src = tmp_path / "src"
    src.mkdir()
    path, ckpt = str(tmp_path / "hist"), str(tmp_path / "ckpt")

    def df(rows):
        return spark.createDataFrame(rows, "g string, v double")

    df(rows0).coalesce(1).write.parquet(str(src / "f1"))
    df(rows1).coalesce(1).write.parquet(str(src / "f2"))
    stream = (
        spark.readStream.schema("g string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: histogram_maintain_batch(
                b, path, ["g"], "v", run_key_for_checkpoint(ckpt), i
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = sorted(
        (r["g"], r["b"], r["c"])
        for r in histogram_cells(df(rows0 + rows1), ["g"], F.col("v")).collect()
    )
    got = sorted(
        (r["g"], r["b"], r["c"])
        for r in read_histogram(spark, path).collect()
    )
    assert got == want


def test_cms_single_digest_join_size_never_undercounts(spark):
    """The CMS inner-product join-size estimate (single-digest builder)
    must upper-bound the exact join size — every hash row's inner
    product counts each true key pair at least once."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.operators.sketches import (
        cms_cells_single_digest,
    )

    a = spark.createDataFrame(
        [(str(i % 37),) for i in range(500)], "tok string"
    )
    b = spark.createDataFrame(
        [(str(i % 53),) for i in range(700)], "tok string"
    )
    ca = cms_cells_single_digest(a, width=64)
    cb = cms_cells_single_digest(b, width=64).withColumnRenamed("c", "c2")
    est = (
        ca.join(cb, ["i", "idx"])
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("c2")).alias("est_i"))
        .agg(F.min("est_i").alias("est"))
        .collect()[0]["est"]
    )
    exact = (
        a.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(
            b.groupBy("tok").agg(F.count(F.lit(1)).alias("n2")), "tok"
        )
        .agg(F.sum(F.col("n") * F.col("n2")).alias("x"))
        .collect()[0]["x"]
    )
    assert exact > 0
    assert est >= exact
    # 4 disjoint digest slices must actually disagree (independence)
    idxs = {(r.i, r.idx) for r in ca.collect()}
    per_row = {}
    for i, idx in idxs:
        per_row.setdefault(i, set()).add(idx)
    assert len(per_row) == 4
    assert any(per_row[0] != per_row[i] for i in (1, 2, 3))


def test_uninitialized_store_reads_are_descriptive(spark, tmp_path):
    """Reading a store that never committed a version returns None
    (readers) or raises a store-naming error (estimators) — never a
    bare AttributeError (ADVICE r6)."""
    import pytest

    from datagouv_tools_spark.streaming.sketch_maintain import (
        mincount_estimate,
        read_histogram,
        read_mincount,
    )

    empty = str(tmp_path / "never_written")
    assert read_cms(spark, empty) is None
    assert read_mincount(spark, empty) is None
    assert read_histogram(spark, empty) is None
    with pytest.raises(FileNotFoundError, match="never_written"):
        cms_estimate(spark, empty, ["tok"])
    with pytest.raises(FileNotFoundError, match="never_written"):
        mincount_estimate(spark, empty)
