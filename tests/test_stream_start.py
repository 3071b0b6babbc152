"""``streaming.source.start_stream``: the checkpoint manager follows the
checkpoint's filesystem, its conf window closes at ``start()``, and a
checkpoint written under Spark's default manager resumes under the
FileSystem one."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import pytest

from datagouv_tools_spark.streaming.source import (
    _FS_MANAGER_CLASSES,
    _MANAGER_KEY,
    _checkpoint_manager,
    _checkpoint_scheme,
    _fs_manager_class,
    read_events_stream,
    run_to_memory,
    start_stream,
)

_ROOT_KEY = "spark.sql.streaming.checkpointLocation"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "checkpoint, root, default_fs, scheme",
    [
        ("file:/data/ckpt", None, "hdfs://nn:8020", "file"),
        ("/data/ckpt", None, "file:///", "file"),
        ("ckpt", None, None, "file"),
        (None, None, "file:///", "file"),  # Spark's temp dir
        (None, "file:/data/ckpts", "hdfs://nn:8020", "file"),
        (None, "/data/ckpts", "file:///", "file"),
        ("hdfs://nn:8020/ckpt", None, "file:///", "hdfs"),
        ("s3a://bucket/ckpt", None, "file:///", "s3a"),
        ("abfs://c@acct.dfs.core.windows.net/ckpt", None, "file:///", "abfs"),
        (None, "s3a://bucket/ckpts", "file:///", "s3a"),
        ("/data/ckpt", None, "hdfs://nn:8020", "hdfs"),
        (None, None, "hdfs://nn:8020", "hdfs"),  # temp dir, remote default
        ("/data/a:b", None, "file:///", "file"),  # ':' after a '/' is no scheme
    ],
)
def test_checkpoint_scheme(checkpoint, root, default_fs, scheme):
    assert _checkpoint_scheme(checkpoint, root, default_fs) == scheme


@pytest.mark.parametrize(
    "checkpoint, root, default_fs, local",
    [
        ("file:/data/ckpt", None, None, True),
        ("/data/ckpt", None, None, True),
        (None, None, None, True),
        (None, "/data/ckpts", None, True),
        ("hdfs://nn:8020/ckpt", None, None, False),
        ("s3a://bucket/ckpt", None, None, False),
        (None, "s3a://bucket/ckpts", None, False),
        ("/data/ckpt", None, "hdfs://nn:8020", False),
        (None, None, "hdfs://nn:8020", False),
    ],
)
def test_manager_follows_checkpoint_filesystem(
    spark, checkpoint, root, default_fs, local
):
    """Reads the session's root and ``fs.defaultFS`` the way a starting
    query would; no stream is started."""
    conf = spark.conf
    try:
        if root is not None:
            conf.set(_ROOT_KEY, root)
        if default_fs is not None:
            conf.set("fs.defaultFS", default_fs)
        got = _checkpoint_manager(spark, checkpoint)
    finally:
        conf.unset(_ROOT_KEY)
        conf.unset("fs.defaultFS")
    assert got == (_fs_manager_class() if local else None)


def test_caller_chosen_manager_is_kept(spark):
    spark.conf.set(_MANAGER_KEY, "com.example.Manager")
    try:
        assert _checkpoint_manager(spark, "/data/ckpt") is None
    finally:
        spark.conf.unset(_MANAGER_KEY)


def test_manager_class_loads_in_jvm(spark):
    name = _fs_manager_class()
    assert name in _FS_MANAGER_CLASSES
    spark._jvm.java.lang.Class.forName(name)


def _offset_log_manager(q) -> str:
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


def test_local_stream_uses_fs_manager_and_session_is_restored(spark, tmp_path):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    q = start_stream(
        spark.readStream.format("rate").load().writeStream.format("noop")
        .trigger(availableNow=True),
        str(tmp_path / "ckpt"),
        state_partitions=3,
    )
    try:
        assert _offset_log_manager(q) == _fs_manager_class()
        assert spark.conf.get(_MANAGER_KEY, None) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
    finally:
        q.stop()


def test_replay_leaves_session_confs_unset(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    ev = read_events_stream(spark, sf_dir)
    run_to_memory(ev.groupBy("event_type").count(), state_partitions=2).collect()
    assert spark.conf.get(_MANAGER_KEY, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_concurrent_replays_restore_session_confs(spark, sf_dir):
    """Two replays pinning different state partitions at once: an
    unlocked save/restore pair interleaves and leaves one replay's
    value on the session."""
    conf = spark.conf
    before = (conf.get("spark.sql.shuffle.partitions"), conf.get(_MANAGER_KEY, None))
    ev = read_events_stream(spark, sf_dir)
    barrier = threading.Barrier(2, timeout=60)
    errors = []

    def replay(n):
        try:
            barrier.wait()
            run_to_memory(ev.groupBy("user_id").count(), state_partitions=n).count()
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=replay, args=(n,)) for n in (2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    after = (conf.get("spark.sql.shuffle.partitions"), conf.get(_MANAGER_KEY, None))
    assert after == before


def test_default_manager_checkpoint_resumes_without_duplicates(spark, tmp_path):
    """Batch 0 runs under Spark's default manager; its commit-log entry
    is then removed, so the resumed query (FileSystem manager) replays
    batch 0 from the old offset log before reading the new file. The
    ``apply_once`` ledger skips the replayed batch: every row lands
    once."""
    from datagouv_tools_spark.streaming.store import apply_once, run_key_for_checkpoint

    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    run_key = run_key_for_checkpoint(ckpt)
    spark.range(0, 50).coalesce(1).write.parquet(f"{src}/f1")
    delivered = []

    def sink(batch, batch_id):
        delivered.append(batch_id)
        apply_once(
            batch.sparkSession, out, run_key, batch_id,
            lambda: batch.write.mode("append").parquet(f"{out}/rows"),
        )

    def writer():
        return (
            spark.readStream.schema("id long").option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*").writeStream.foreachBatch(sink)
            .trigger(availableNow=True)
        )

    q = writer().option("checkpointLocation", ckpt).start()
    q.awaitTermination()
    assert _offset_log_manager(q) != _fs_manager_class()
    os.remove(f"{ckpt}/commits/0")
    os.remove(f"{ckpt}/commits/.0.crc")

    spark.range(50, 80).coalesce(1).write.parquet(f"{src}/f2")
    delivered.clear()
    q = start_stream(writer(), ckpt)
    q.awaitTermination()
    assert _offset_log_manager(q) == _fs_manager_class()
    assert delivered == [0, 1]

    ids = [r.id for r in spark.read.parquet(f"{out}/rows").collect()]
    assert sorted(ids) == list(range(80))
    ledger = spark.read.parquet(f"{out}/applied_batches")
    assert sorted(r.batch_id for r in ledger.collect()) == [0, 1]
    assert sorted(os.listdir(f"{ckpt}/commits")) == [".0.crc", ".1.crc", "0", "1"]


def test_stream_fixture_dirs_removed_at_exit(tmp_path, sf_dir):
    """A replay fixture's temp dir outlives every query in the process
    (the fixture cache) but not the process."""
    code = (
        "from datagouv_tools_spark.session import get_spark\n"
        "from datagouv_tools_spark.queries.streaming import _scd2_stream_fixture\n"
        "spark = get_spark('fixture-exit', master='local[1]', shuffle_partitions=1)\n"
        f"print(_scd2_stream_fixture(spark, {sf_dir!r}))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_DRIVER_MEM="1g")
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=_REPO, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    src = res.stdout.strip().splitlines()[-1]
    assert os.path.dirname(src) == str(tmp_path)
    assert not os.path.exists(src)
    assert not [d for d in os.listdir(tmp_path) if d.startswith("scd2_stream_src_")]
