"""Streaming rollup maintenance (streaming/rollup_maintain.py): the
contract is that after ANY delivery history — ordered batches, full
replays, partial redeliveries — rollup == aggregate_base(base store)
== from-scratch compute over the surviving changelog."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from datagouv_tools_spark.operators.incremental import aggregate_base
from datagouv_tools_spark.streaming.rollup_maintain import (
    maintain_rollup_batch,
    read_rollup,
)

SCHEMA = "k string, id bigint, v int, op string"


def _delta(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snapshot(spark, path):
    import glob

    rows = sorted(
        (r["k"], r["n"], str(r["total"]), r["vmin"], r["vmax"])
        for r in read_rollup(spark, path).collect()
    )
    files = sorted(glob.glob(path + "/__bucket=*/**/*.parquet", recursive=True))
    return rows, files


def _check_consistent(spark, base_path, rollup_path, expected_rows):
    base = spark.read.parquet(base_path).drop("__bucket")
    assert sorted(
        (r["k"], r["id"], r["v"]) for r in base.collect()
    ) == sorted(expected_rows)
    from_base = aggregate_base(base, "k", "v")
    got = {
        r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
        for r in read_rollup(spark, rollup_path).collect()
    }
    want = {
        r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
        for r in from_base.collect()
    }
    assert got == want


def test_batches_then_deletes_then_replay(spark, tmp_path):
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")

    b1 = [("a", 1, 10, "I"), ("a", 2, 20, "I"), ("b", 3, 5, "I")]
    b2 = [("a", 2, 20, "D"), ("b", 4, 7, "I"), ("c", 5, 1, "I")]
    maintain_rollup_batch(_delta(spark, b1), base_path, rollup_path, ["k"], "id", "v")
    maintain_rollup_batch(_delta(spark, b2), base_path, rollup_path, ["k"], "id", "v")
    live = [("a", 1, 10), ("b", 3, 5), ("b", 4, 7), ("c", 5, 1)]
    _check_consistent(spark, base_path, rollup_path, live)

    # at-least-once: replaying batch 2 is a byte-stable no-op
    before = _snapshot(spark, rollup_path)
    maintain_rollup_batch(_delta(spark, b2), base_path, rollup_path, ["k"], "id", "v")
    _check_consistent(spark, base_path, rollup_path, live)
    assert _snapshot(spark, rollup_path)[0] == before[0]

    # ...and so is replaying batch 1 AFTER batch 2 (out-of-order replay
    # must not resurrect the deleted id=2)
    maintain_rollup_batch(_delta(spark, b1), base_path, rollup_path, ["k"], "id", "v")
    # id=2 IS re-inserted here (its delete was consumed) — that's the
    # documented id-membership semantics, so assert against the rule:
    # re-insert happens because the store no longer holds id 2
    base = spark.read.parquet(base_path)
    assert base.filter(F.col("id") == 2).count() == 1


def test_group_fully_deleted_leaves_no_stale_rollup(spark, tmp_path):
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    maintain_rollup_batch(
        _delta(spark, [("a", 1, 3, "I"), ("zz", 9, 4, "I")]),
        base_path,
        rollup_path,
        ["k"],
        "id",
        "v",
        n_buckets=4,
    )
    maintain_rollup_batch(
        _delta(spark, [("a", 1, 3, "D")]),
        base_path,
        rollup_path,
        ["k"],
        "id",
        "v",
        n_buckets=4,
    )
    keys = [r["k"] for r in read_rollup(spark, rollup_path).collect()]
    assert keys == ["zz"], "fully-deleted group must not survive in the rollup"


def test_crash_between_base_and_rollup_heals_on_replay(spark, tmp_path):
    """Simulate the crash window: base updated, rollup write lost.
    Redelivery must converge both stores (no ledger to desync)."""
    import shutil

    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    b1 = [("a", 1, 10, "I"), ("b", 2, 6, "I")]
    maintain_rollup_batch(_delta(spark, b1), base_path, rollup_path, ["k"], "id", "v")
    shutil.rmtree(rollup_path)  # the "lost" rollup write

    maintain_rollup_batch(_delta(spark, b1), base_path, rollup_path, ["k"], "id", "v")
    _check_consistent(
        spark, base_path, rollup_path, [("a", 1, 10), ("b", 2, 6)]
    )


def test_streaming_end_to_end_equals_batch(spark, tmp_path):
    """Drive the maintainer through a real readStream/foreachBatch run
    over a file-source changelog and compare with a from-scratch batch
    aggregation of the surviving rows."""
    src = tmp_path / "src"
    src.mkdir()
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")

    b1 = [("a", 1, 10, "I"), ("a", 2, 20, "I"), ("b", 3, 5, "I")]
    b2 = [("a", 1, 10, "D"), ("c", 4, 9, "I")]
    _delta(spark, b1).coalesce(1).write.mode("overwrite").parquet(str(src / "f1"))
    _delta(spark, b2).coalesce(1).write.mode("overwrite").parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: maintain_rollup_batch(
                b, base_path, rollup_path, ["k"], "id", "v", n_buckets=4
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    deadline = time.time() + 30
    while time.time() < deadline:
        try:
            _check_consistent(
                spark,
                base_path,
                rollup_path,
                [("a", 2, 20), ("b", 3, 5), ("c", 4, 9)],
            )
            break
        except (AssertionError, Exception):
            if time.time() + 1 > deadline:
                raise
            time.sleep(1)


# --- delta mode -----------------------------------------------------------


def _delta_ref(batches):
    """Reference: net count/sum per key over all applied batches."""
    from collections import defaultdict
    from decimal import Decimal

    n = defaultdict(int)
    tot = defaultdict(lambda: Decimal(0))
    for rows in batches:
        for k, _id, v, op in rows:
            s = -1 if op == "D" else 1
            n[k] += s
            tot[k] += s * Decimal(v)
    return {k: (n[k], tot[k]) for k in n if n[k] > 0}


def _read_delta(spark, path):
    from datagouv_tools_spark.streaming.rollup_maintain import read_delta_rollup

    df = read_delta_rollup(spark, path)
    return {} if df is None else {
        r["k"]: (r["n"], r["total"]) for r in df.collect()
    }


def test_delta_mode_sequential_and_crash_replay(spark, tmp_path):
    from datagouv_tools_spark.streaming.rollup_maintain import delta_maintain_batch

    path = str(tmp_path / "droll")
    b0 = [("a", 1, 10, "I"), ("a", 2, 20, "I"), ("b", 3, 5, "I")]
    b1 = [("a", 2, 20, "D"), ("c", 4, 9, "I")]
    delta_maintain_batch(_delta(spark, b0), path, ["k"], "v", "run1", 0, n_buckets=4)
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "run1", 1, n_buckets=4)
    want = _delta_ref([b0, b1])
    got = _read_delta(spark, path)
    assert {k: (n, t) for k, (n, t) in got.items()} == {
        k: (n, t) for k, (n, t) in want.items()
    }

    # same-run redelivery of batch 1: every touched bucket carries the
    # (run1, 1) tag, so the whole batch is a no-op — no double apply
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "run1", 1, n_buckets=4)
    assert _read_delta(spark, path) == got

    # out-of-order replay of batch 0 after batch 1: tags are newer → no-op
    delta_maintain_batch(_delta(spark, b0), path, ["k"], "v", "run1", 0, n_buckets=4)
    assert _read_delta(spark, path) == got


def test_delta_mode_partial_crash_applies_only_missing_buckets(spark, tmp_path):
    """Simulate a crash that committed SOME bucket partitions of a
    batch: the replay must apply the delta only to the buckets still
    carrying the older tag."""
    import shutil

    from datagouv_tools_spark.streaming.rollup_maintain import delta_maintain_batch

    path = str(tmp_path / "droll")
    # keys spread across buckets (n_buckets=4)
    b0 = [("a", 1, 10, "I"), ("b", 2, 5, "I"), ("zz", 3, 7, "I")]
    delta_maintain_batch(_delta(spark, b0), path, ["k"], "v", "run1", 0, n_buckets=4)
    state0 = _read_delta(spark, path)

    b1 = [("a", 4, 1, "I"), ("b", 5, 2, "I"), ("zz", 6, 3, "I")]
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "run1", 1, n_buckets=4)
    # find the bucket holding key 'a' and roll it back to its batch-0
    # state (as if batch 1's write to that partition never committed)
    import glob

    full = _read_delta(spark, path)
    spark.catalog.refreshByPath(path)
    bucket_of = {
        r["k"]: r["__bucket"]
        for r in spark.read.parquet(path).select("k", "__bucket").collect()
    }
    abucket = bucket_of["a"]
    shutil.rmtree(f"{path}/__bucket={abucket}")
    # rebuild the WHOLE bucket at its pre-batch-1 state (several keys
    # may share it)
    pre = spark.createDataFrame(
        [
            (k, state0[k][0], str(state0[k][1]), "run1", 0, int(abucket))
            for k, b in bucket_of.items()
            if b == abucket
        ],
        "k string, n bigint, total string, __run string, __seq bigint, __bucket int",
    ).select(
        "k",
        "n",
        F.col("total").cast("decimal(28,6)").alias("total"),
        "__run",
        "__seq",
        "__bucket",
    )
    pre.write.mode("append").partitionBy("__bucket").parquet(path)

    # redelivery: only 'a''s bucket is behind; others must not double
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "run1", 1, n_buckets=4)
    assert _read_delta(spark, path) == full


def test_delta_mode_group_deleted_to_zero_disappears_and_converges(spark, tmp_path):
    from datagouv_tools_spark.streaming.rollup_maintain import delta_maintain_batch

    path = str(tmp_path / "droll")
    b0 = [("a", 1, 10, "I"), ("zz", 2, 4, "I")]
    b1 = [("a", 1, 10, "D")]
    delta_maintain_batch(_delta(spark, b0), path, ["k"], "v", "r", 0, n_buckets=4)
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "r", 1, n_buckets=4)
    assert set(_read_delta(spark, path)) == {"zz"}
    # the emptied bucket lost its tag with its rows; replaying the
    # delete against nothing converges back to empty
    delta_maintain_batch(_delta(spark, b1), path, ["k"], "v", "r", 1, n_buckets=4)
    assert set(_read_delta(spark, path)) == {"zz"}


def test_delta_mode_streaming_end_to_end(spark, tmp_path):
    from datagouv_tools_spark.streaming.rollup_maintain import delta_maintain_batch
    from datagouv_tools_spark.streaming.store import run_key_for_checkpoint

    src = tmp_path / "src"
    src.mkdir()
    path = str(tmp_path / "droll")
    ckpt = str(tmp_path / "ckpt")
    b0 = [("a", 1, 10, "I"), ("a", 2, 20, "I"), ("b", 3, 5, "I")]
    b1 = [("a", 1, 10, "D"), ("c", 4, 9, "I")]
    _delta(spark, b0).coalesce(1).write.parquet(str(src / "f1"))
    _delta(spark, b1).coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: delta_maintain_batch(
                b, path, ["k"], "v", run_key_for_checkpoint(ckpt), i,
                n_buckets=4,
            )
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    want = _delta_ref([b0, b1])
    assert _read_delta(spark, path) == want


def test_property_streaming_maintenance_random_histories(spark, tmp_path):
    """Randomized sweep for the recompute-bounded maintainer: random
    insert/delete histories split across batches, with a random batch
    REPLAYED, must leave rollup == aggregate_base(base store) ==
    reference over surviving rows. (The analogous sweep on the batch
    operator caught a real extremum bug — tests/test_incremental.py.)"""
    import itertools
    import random

    rng = random.Random(20260814)
    case_dirs = itertools.count()
    for _case in range(5):
        d = tmp_path / f"p{next(case_dirs)}"
        base_path, rollup_path = str(d / "base"), str(d / "rollup")
        live: dict[int, tuple[str, int]] = {}
        next_id = itertools.count(1)
        next_seq = itertools.count(0)
        batches = []
        for _b in range(3):
            rows = []
            for _ in range(rng.randint(1, 6)):
                # same-id insert+delete can land in ONE batch — the
                # seq column orders the chain so netting resolves it
                if live and rng.random() < 0.4:
                    i = rng.choice(list(live))
                    k, v = live.pop(i)
                    rows.append((k, i, v, "D", next(next_seq)))
                else:
                    i = next(next_id)
                    k = rng.choice("ab")
                    v = rng.randint(0, 9)
                    live[i] = (k, v)
                    rows.append((k, i, v, "I", next(next_seq)))
            batches.append(rows)
        for rows in batches:
            maintain_rollup_batch(
                _sdelta(spark, rows), base_path, rollup_path, ["k"], "id", "v",
                n_buckets=4, seq_col="seq",
            )
        # replay a random batch (at-least-once redelivery)
        maintain_rollup_batch(
            _sdelta(spark, rng.choice(batches)), base_path, rollup_path,
            ["k"], "id", "v", n_buckets=4, seq_col="seq",
        )
        # NB: replaying an old batch can legitimately re-insert ids whose
        # deletes came in LATER batches (documented id-membership
        # semantics) — so replay the LAST batch only for strict equality
        maintain_rollup_batch(
            _sdelta(spark, batches[-1]), base_path, rollup_path,
            ["k"], "id", "v", n_buckets=4, seq_col="seq",
        )
        # the random mid-history replay may have resurrected ids deleted
        # later; recompute expectation from the store's own base — the
        # invariant under ANY history is rollup == aggregate(base store),
        # including the all-deleted state where both stores are empty
        from datagouv_tools_spark.streaming.rollup_maintain import _has_buckets

        if _has_buckets(spark, base_path):
            base = spark.read.parquet(base_path).drop("__bucket")
            from_base = {
                r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
                for r in aggregate_base(base, "k", "v").collect()
            }
        else:
            from_base = {}
        rolled = read_rollup(spark, rollup_path)
        got = (
            {}
            if rolled is None
            else {
                r["k"]: (r["n"], r["total"], r["vmin"], r["vmax"])
                for r in rolled.collect()
            }
        )
        assert got == from_base, (_case, batches)


# --- same-id ops within ONE micro-batch (CDC update / tombstone) ----------

SEQ_SCHEMA = "k string, id bigint, v int, op string, seq bigint"


def _sdelta(spark, rows):
    return spark.createDataFrame(rows, SEQ_SCHEMA)


def test_intra_batch_update_replaces_row(spark, tmp_path):
    """A CDC update (delete old + insert new, same id, one batch,
    ordered by seq) must land the NEW value — not silently delete the
    row (the pre-fix behavior: the insert was anti-joined away against
    the pre-delete base and only the delete applied)."""
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    maintain_rollup_batch(
        _sdelta(spark, [("a", 1, 10, "I", 0), ("a", 2, 20, "I", 1)]),
        base_path, rollup_path, ["k"], "id", "v", seq_col="seq",
    )
    # the update batch: id=1 goes 10 -> 99
    maintain_rollup_batch(
        _sdelta(spark, [("a", 1, 10, "D", 2), ("a", 1, 99, "I", 3)]),
        base_path, rollup_path, ["k"], "id", "v", seq_col="seq",
    )
    _check_consistent(spark, base_path, rollup_path, [("a", 1, 99), ("a", 2, 20)])

    # replaying the update batch is byte-stable
    before = _snapshot(spark, rollup_path)
    maintain_rollup_batch(
        _sdelta(spark, [("a", 1, 10, "D", 2), ("a", 1, 99, "I", 3)]),
        base_path, rollup_path, ["k"], "id", "v", seq_col="seq",
    )
    _check_consistent(spark, base_path, rollup_path, [("a", 1, 99), ("a", 2, 20)])
    assert _snapshot(spark, rollup_path)[0] == before[0]


def test_intra_batch_insert_then_delete_is_tombstone(spark, tmp_path):
    """insert-then-delete of a NEW id inside one batch nets to absent
    (pre-fix: the delete only probed the prior base, so the id
    survived)."""
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    maintain_rollup_batch(
        _sdelta(
            spark,
            [("a", 1, 10, "I", 0), ("a", 7, 5, "I", 1), ("a", 7, 5, "D", 2)],
        ),
        base_path, rollup_path, ["k"], "id", "v", seq_col="seq",
    )
    _check_consistent(spark, base_path, rollup_path, [("a", 1, 10)])


def test_intra_batch_chain_last_op_wins(spark, tmp_path):
    """create + update of one id in one batch: the highest-seq insert's
    value lands, exactly once."""
    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    maintain_rollup_batch(
        _sdelta(
            spark,
            [("a", 1, 1, "I", 0), ("a", 1, 1, "D", 1), ("a", 1, 42, "I", 2)],
        ),
        base_path, rollup_path, ["k"], "id", "v", seq_col="seq",
    )
    _check_consistent(spark, base_path, rollup_path, [("a", 1, 42)])


def test_intra_batch_multi_op_without_seq_is_rejected(spark, tmp_path):
    """Without an intra-batch ordering there is no way to tell an
    update from a tombstone — the maintainer must refuse loudly, never
    guess."""
    import pytest

    base_path = str(tmp_path / "base")
    rollup_path = str(tmp_path / "rollup")
    with pytest.raises(ValueError, match="seq_col"):
        maintain_rollup_batch(
            _delta(spark, [("a", 1, 10, "D"), ("a", 1, 99, "I")]),
            base_path, rollup_path, ["k"], "id", "v",
        )
    with pytest.raises(ValueError, match="seq_col"):
        maintain_rollup_batch(
            _delta(spark, [("a", 1, 10, "I"), ("a", 1, 11, "I")]),
            base_path, rollup_path, ["k"], "id", "v",
        )
    # repeated deletes of one id stay legal (idempotent) and collapse
    maintain_rollup_batch(
        _delta(spark, [("a", 1, 10, "I")]), base_path, rollup_path,
        ["k"], "id", "v",
    )
    maintain_rollup_batch(
        _delta(spark, [("a", 1, 10, "D"), ("a", 1, 10, "D")]),
        base_path, rollup_path, ["k"], "id", "v",
    )
    assert read_rollup(spark, base_path) is None or read_rollup(
        spark, rollup_path
    ) is None


def test_property_intra_batch_chains_random_histories(spark, tmp_path):
    """Randomized sweep for the seq-ordered netting: histories where
    one id can receive SEVERAL ops inside one batch (create+update,
    update, delete+reinsert, insert+delete), split across batches at
    random. After every history: base store == last-op-wins reference,
    rollup == aggregate_base(base store)."""
    import itertools
    import random

    rng = random.Random(20260814 + 1)
    for case in range(5):
        d = tmp_path / f"c{case}"
        base_path, rollup_path = str(d / "base"), str(d / "rollup")
        next_seq = itertools.count(0)
        live: dict[int, tuple[str, int]] = {}  # reference state
        ids = list(range(1, 9))
        batches = []
        for _b in range(3):
            rows = []
            for _ in range(rng.randint(2, 8)):
                i = rng.choice(ids)
                k = "k" + str(i % 2)
                if i in live and rng.random() < 0.5:
                    if rng.random() < 0.5:
                        # plain delete
                        rows.append((k, i, live.pop(i)[1], "D", next(next_seq)))
                    else:
                        # update: delete old + insert new, SAME batch
                        old = live[i][1]
                        new = rng.randint(0, 99)
                        rows.append((k, i, old, "D", next(next_seq)))
                        rows.append((k, i, new, "I", next(next_seq)))
                        live[i] = (k, new)
                elif i not in live:
                    v = rng.randint(0, 99)
                    rows.append((k, i, v, "I", next(next_seq)))
                    live[i] = (k, v)
                    if rng.random() < 0.3:
                        # tombstone in the same batch
                        rows.append((k, i, v, "D", next(next_seq)))
                        live.pop(i)
            if rows:
                batches.append(rows)
        for rows in batches:
            maintain_rollup_batch(
                _sdelta(spark, rows), base_path, rollup_path,
                ["k"], "id", "v", n_buckets=4, seq_col="seq",
            )
        # replay the LAST batch (at-least-once; an old update replay
        # would legitimately reapply its image, so strict equality is
        # against the tail replay)
        if batches:
            maintain_rollup_batch(
                _sdelta(spark, batches[-1]), base_path, rollup_path,
                ["k"], "id", "v", n_buckets=4, seq_col="seq",
            )
        from datagouv_tools_spark.streaming.rollup_maintain import _has_buckets

        if _has_buckets(spark, base_path):
            got_base = sorted(
                (r["k"], r["id"], r["v"])
                for r in spark.read.parquet(base_path).drop("__bucket").collect()
            )
        else:
            got_base = []
        want_base = sorted((k, i, v) for i, (k, v) in live.items())
        assert got_base == want_base, (case, batches)
        rolled = read_rollup(spark, rollup_path)
        got_roll = (
            {}
            if rolled is None
            else {
                r["k"]: (r["n"], str(r["total"]), r["vmin"], r["vmax"])
                for r in rolled.collect()
            }
        )
        if got_base:
            base_df = spark.read.parquet(base_path).drop("__bucket")
            want_roll = {
                r["k"]: (r["n"], str(r["total"]), r["vmin"], r["vmax"])
                for r in aggregate_base(base_df, "k", "v").collect()
            }
        else:
            want_roll = {}
        assert got_roll == want_roll, (case, batches)
