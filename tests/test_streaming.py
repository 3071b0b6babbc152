"""Streaming operators: stream == batch on the same bounded input.

Every event-time operator (streaming/windows.py) runs on both a static
and a streaming DataFrame; these tests replay the events table through
the file-stream source (availableNow → memory sink) and assert the
final result equals the batch twin row-for-row. The custom stateful
operator is checked against the batch groupBy totals.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datagouv_tools_spark.sources.catalog import load_table
from datagouv_tools_spark.streaming.source import read_events_stream, run_to_memory
from datagouv_tools_spark.streaming.stateful import running_user_totals
from datagouv_tools_spark.streaming.windows import (
    dedup_events,
    session_agg,
    sliding_agg,
    tumbling_agg,
)

def _aggs():
    # built lazily: Column construction needs an active SparkContext
    return {"n_events": F.count(F.lit(1)), "sum_value": F.round(F.sum("value"), 2)}


def _sorted_rows(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def _batch_events_as_ts(spark, sf_dir):
    # streaming path uses TimestampType (watermark requirement); compare
    # batch on the same type so window bounds are identical
    return load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


def test_tumbling_stream_equals_batch(spark, sf_dir):
    ev_b = _batch_events_as_ts(spark, sf_dir)
    ev_s = read_events_stream(spark, sf_dir)
    batch = tumbling_agg(ev_b, "15 minutes", _aggs(), keys=("event_type",))
    stream = run_to_memory(
        tumbling_agg(ev_s, "15 minutes", _aggs(), keys=("event_type",))
    )
    key = ["window_start", "event_type"]
    assert _sorted_rows(stream, *key) == _sorted_rows(batch, *key)


def test_sliding_stream_equals_batch(spark, sf_dir):
    ev_b = _batch_events_as_ts(spark, sf_dir)
    ev_s = read_events_stream(spark, sf_dir)
    batch = sliding_agg(ev_b, "1 hour", "15 minutes", _aggs())
    stream = run_to_memory(sliding_agg(ev_s, "1 hour", "15 minutes", _aggs()))
    assert _sorted_rows(stream, "window_start") == _sorted_rows(batch, "window_start")
    # every event lands in exactly duration/slide = 4 windows
    n_events = ev_b.count()
    assert sum(r[2] for r in _sorted_rows(stream, "window_start")) == 4 * n_events


def test_session_stream_equals_batch(spark, sf_dir):
    ev_b = _batch_events_as_ts(spark, sf_dir)
    ev_s = read_events_stream(spark, sf_dir)
    batch = session_agg(ev_b, "30 minutes", _aggs(), keys=("user_id",))
    stream = run_to_memory(session_agg(ev_s, "30 minutes", _aggs(), keys=("user_id",)))
    key = ["user_id", "window_start"]
    assert _sorted_rows(stream, *key) == _sorted_rows(batch, *key)


def test_session_window_semantics(spark):
    # sessions split exactly at gap: 0s,10s in one session; +40s opens a new
    # one (gap 30s); end = last ts + gap
    rows = [(1, "2024-01-01 00:00:00"), (1, "2024-01-01 00:00:10"), (1, "2024-01-01 00:00:50")]
    df = spark.createDataFrame(rows, "user_id long, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = _sorted_rows(
        session_agg(df, "30 seconds", {"n": F.count(F.lit(1))}, keys=("user_id",)),
        "window_start",
    )
    assert [(str(s), str(e), u, n) for s, e, u, n in out] == [
        ("2024-01-01 00:00:00", "2024-01-01 00:00:40", 1, 2),
        ("2024-01-01 00:00:50", "2024-01-01 00:01:20", 1, 1),
    ]


def test_dedup_events_stream(spark, sf_dir):
    ev_s = read_events_stream(spark, sf_dir)
    deduped = run_to_memory(
        dedup_events(ev_s, ("user_id", "event_type")), output_mode="append"
    )
    batch_distinct = (
        _batch_events_as_ts(spark, sf_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert deduped.count() == batch_distinct
    assert deduped.select("user_id", "event_type").distinct().count() == batch_distinct


def test_stateful_running_totals(spark, sf_dir):
    ev_s = read_events_stream(spark, sf_dir)
    totals = run_to_memory(running_user_totals(ev_s), output_mode="update")
    # last update per user == batch totals
    w_last = totals.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("sum_value").alias("sum_value")
    )
    batch = (
        _batch_events_as_ts(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )
    got = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in w_last.collect()}
    want = {r["user_id"]: (r["n_events"], round(r["sum_value"], 6)) for r in batch.collect()}
    assert got == want


def _multi_batch_events_dir(spark, sf_dir, tmp_path, n_files=3):
    # split events into n parquet files so maxFilesPerTrigger=1 yields a
    # genuinely multi-batch stream (state must survive across batches).
    # Split by TIME RANGE, not event_id%n: a production replay feeds
    # batches in event-time order; a modulo split makes every batch span
    # the full range, so replay order vs the watermark can (rarely,
    # depending on file mtime ties) drop legitimately-early rows and
    # flake the session test. repartitionByRange also names part files
    # in time order, so mtime ties resolve to time order by path.
    # Distinct mtimes force the file-source batch order (ties resolve by
    # listing order, which is arbitrary — the original flake source).
    import time as _time

    from pyspark.sql.window import Window

    out = str(tmp_path / "events_split")
    ev = load_table(spark, sf_dir, "events")
    ranked = ev.withColumn("__b", F.ntile(n_files).over(Window.orderBy("ts")))
    for i in range(1, n_files + 1):
        ranked.filter(F.col("__b") == i).drop("__b").coalesce(1).write.mode(
            "append"
        ).parquet(out)
        _time.sleep(1.1)
    import glob
    assert len(glob.glob(out + "/part-*.parquet")) >= n_files - 1
    return out


def _read_split_stream(spark, split_dir):
    from datagouv_tools_spark.streaming.source import events_raw_schema

    # the split files carry proper micro timestamps (written by Spark),
    # never the raw nanos some driver testdata generations used
    schema = events_raw_schema(nanos=False)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(split_dir)
    )


def test_stateful_totals_across_batches(spark, sf_dir, tmp_path):
    split = _multi_batch_events_dir(spark, sf_dir, tmp_path)
    stream = _read_split_stream(spark, split)
    totals = run_to_memory(running_user_totals(stream), output_mode="update")
    # update mode emits one row per user per batch it appears in; the
    # running state must end at the batch totals
    final = totals.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    got = {r["user_id"]: r["n_events"] for r in final.collect()}
    want = {r["user_id"]: r["n_events"] for r in batch.collect()}
    assert got == want
    # and at least one user must have been updated in more than one batch
    multi = totals.groupBy("user_id").count().filter(F.col("count") > 1).count()
    assert multi > 0


def test_session_agg_across_batches(spark, sf_dir, tmp_path):
    split = _multi_batch_events_dir(spark, sf_dir, tmp_path)
    stream = _read_split_stream(spark, split)
    got = run_to_memory(
        session_agg(stream, "30 minutes", _aggs(), keys=("user_id",))
    )
    want = session_agg(
        _batch_events_as_ts(spark, sf_dir), "30 minutes", _aggs(), keys=("user_id",)
    )
    key = ["user_id", "window_start"]
    assert _sorted_rows(got, *key) == _sorted_rows(want, *key)


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Watermark semantics, as Spark actually defines them: the
    watermark is an EVICTION bound, not a guaranteed late filter. A
    late row whose window state is still live merges fine; once the
    window has been evicted (its end < watermark at a batch boundary),
    a later row for it is dropped. Three micro-batches:

      b0: 00:05 and 02:00  → watermark after b0 = 01:50
      b1: 03:00            → during b1 the 00:00 window (end 00:15 <
                             01:50) is finalized and emitted with n=1;
                             watermark after b1 = 02:50
      b2: 00:06 (late)     → its window was evicted; the row is
                             dropped, no re-emission
    """
    import time as _time

    d = tmp_path / "late"
    d.mkdir()

    def write(rows, name):
        df = spark.createDataFrame(rows, "event_id long, ts string").withColumn(
            "ts", F.col("ts").cast("timestamp")
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(d / name))

    write([(1, "2024-01-01 00:05:00"), (2, "2024-01-01 02:00:00")], "f1")
    _time.sleep(1.1)  # file source orders batches by modification time
    write([(3, "2024-01-01 03:00:00")], "f2")
    _time.sleep(1.1)
    write([(4, "2024-01-01 00:06:00")], "f3")  # late: behind 02:50 watermark

    stream = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(d) + "/*")
    )
    counts = tumbling_agg(
        stream, "15 minutes", {"n": F.count(F.lit(1))}, watermark="10 minutes"
    )
    got = run_to_memory(counts, output_mode="append")
    rows = [(str(r["window_start"]), r["n"]) for r in got.collect()]
    # the 00:00 window emitted exactly once, with only the on-time row;
    # the late row neither re-emitted the window nor created new state
    assert rows.count(("2024-01-01 00:00:00", 1)) == 1
    assert all(not (w == "2024-01-01 00:00:00" and n != 1) for w, n in rows)


def test_stream_stream_interval_join_equals_batch(spark, sf_dir):
    from datagouv_tools_spark.streaming.joins import interval_join

    def split(ev):
        clicks = ev.filter(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", F.col("event_id").alias("view_id"), "ts"
        )
        return clicks, views

    sc, sv = split(read_events_stream(spark, sf_dir))
    stream = run_to_memory(
        interval_join(
            sc, sv, on="user_id", lower="10 minutes", upper="0 seconds",
            left_ts="c_ts", right_ts="ts", watermark="10 minutes",
        ).select("user_id", "click_id", "view_id"),
        output_mode="append",
    )
    bc, bv = split(_batch_events_as_ts(spark, sf_dir))
    batch = interval_join(
        bc, bv, on="user_id", lower="10 minutes", upper="0 seconds",
        left_ts="c_ts", right_ts="ts",
    ).select("user_id", "click_id", "view_id")
    key = ["user_id", "click_id", "view_id"]
    assert _sorted_rows(stream, *key) == _sorted_rows(batch, *key)


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Restart semantics: a stopped stream resumed from its checkpoint
    must process only NEW input files (file-source offsets) and the
    sink must hold every event exactly once — the property that makes a
    production ingest restartable without dedup sweeps."""
    import glob

    from datagouv_tools_spark.sources.catalog import load_table
    from datagouv_tools_spark.streaming.source import events_raw_schema

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    in_dir = str(tmp_path / "in")
    first = ev.filter(F.col("event_id") < 1000)
    second = ev.filter(F.col("event_id") >= 1000)
    first.coalesce(1).write.mode("append").parquet(in_dir)

    schema = events_raw_schema(nanos=False)
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(in_dir)
            .select("event_id", "user_id", "event_type")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert n_first == first.count()

    # new data arrives while the stream is down; resume from checkpoint
    second.coalesce(1).write.mode("append").parquet(in_dir)
    run_once()

    out = spark.read.parquet(sink)
    assert out.count() == ev.count()
    # exactly once: no event duplicated across the restart
    assert out.select("event_id").distinct().count() == ev.count()
    # and the second run appended only the new file's rows
    assert len(glob.glob(sink + "/part-*")) >= 2


def test_foreach_batch_upsert_latest_per_key(spark, sf_dir, tmp_path):
    """Streaming keyed upsert into bucket-partitioned parquet: after a
    multi-batch replay, the table holds exactly the newest row per key
    (== the batch latest-event-per-user), and replaying a batch is
    idempotent."""
    from datagouv_tools_spark.sources.catalog import load_table
    from datagouv_tools_spark.streaming.upsert import upsert_batch

    split = _multi_batch_events_dir(spark, sf_dir, tmp_path)
    stream = _read_split_stream(spark, split).select(
        "event_id", "user_id", "event_type", "ts"
    )
    table = str(tmp_path / "user_latest")
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: upsert_batch(
                b, table, ["user_id"], ["ts", "event_id"], n_buckets=4
            )
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in spark.read.parquet(table).collect()
    }
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in ev.select(
            "user_id", "ts", "event_id", F.row_number().over(w).alias("rk")
        ).filter(F.col("rk") == 1).collect()
    }
    assert got == want

    # idempotence: re-applying the full input as one batch changes nothing
    upsert_batch(
        spark.read.parquet(split).select("event_id", "user_id", "event_type",
                                         F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz").alias("ts"))
        if dict(spark.read.parquet(split).dtypes).get("ts") == "bigint"
        else spark.read.parquet(split).select("event_id", "user_id", "event_type", "ts"),
        table, ["user_id"], ["ts", "event_id"], n_buckets=4,
    )
    again = {
        r["user_id"]: (r["ts"], r["event_id"])
        for r in spark.read.parquet(table).collect()
    }
    assert again == want


def test_streaming_dedup_gate_admits_first_seen_only(spark, tmp_path):
    """Streaming fingerprint gate: across a multi-batch replay each
    normalized text is admitted exactly once; re-delivery (replay of a
    batch against an up-to-date store) admits nothing and leaves both
    tables unchanged."""
    from datagouv_tools_spark.functions.text import fingerprint_md5
    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    b1 = [(1, "the quick brown fox"), (2, "the  QUICK brown fox"), (3, "unrelated text one")]
    b2 = [(10, "the quick brown fox"), (11, "fresh content two"), (12, "fresh content two")]
    b3 = [(20, "unrelated text one"), (21, "last new document")]
    src = tmp_path / "docs_src"
    src.mkdir()
    for i, rows in enumerate([b1, b2, b3]):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(1).write.parquet(
            str(src / f"b{i}")
        )

    store = str(tmp_path / "fp_store")
    out = str(tmp_path / "admitted")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: dedup_gate_batch(b, store, out, n_buckets=4, batch_id=i)
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    all_docs = spark.createDataFrame(b1 + b2 + b3, "doc_id long, text string")
    n_distinct = (
        all_docs.select(fingerprint_md5("text").alias("fp")).distinct().count()
    )
    admitted = spark.read.parquet(out)
    # exactly one admission per distinct fingerprint, store in sync
    assert admitted.count() == n_distinct == 4
    assert admitted.select("__fp").distinct().count() == n_distinct
    assert spark.read.parquet(store).count() == n_distinct
    # every admitted id is a real id of that fingerprint
    fp_ids = {
        (r["fp"], r["doc_id"])
        for r in all_docs.select(
            fingerprint_md5("text").alias("fp"), "doc_id"
        ).collect()
    }
    assert all(
        (r["__fp"], r["doc_id"]) in fp_ids for r in admitted.collect()
    )

    # replay the full input as one late batch: nothing new admitted
    before_out = sorted(tuple(r) for r in spark.read.parquet(out).drop("__batch").collect())
    before_store = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    dedup_gate_batch(all_docs, store, out, n_buckets=4, batch_id=99)
    assert sorted(tuple(r) for r in spark.read.parquet(out).drop("__batch").collect()) == before_out
    assert sorted(tuple(r) for r in spark.read.parquet(store).collect()) == before_store


def test_dedup_gate_sequential_batches_deterministic(spark, tmp_path):
    """Driving the gate batch-by-batch in a known order admits the
    min-id doc of each fingerprint's FIRST batch, and replaying a batch
    with its original batch_id is byte-idempotent."""
    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b1 = spark.createDataFrame(
        [(5, "alpha beta"), (6, "alpha  BETA"), (7, "gamma delta")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "epsilon zeta")], "doc_id long, text string"
    )
    dedup_gate_batch(b1, store, out, n_buckets=4, batch_id=0)
    dedup_gate_batch(b2, store, out, n_buckets=4, batch_id=1)
    got = {
        r["doc_id"] for r in spark.read.parquet(out).collect()
    }
    # 5 (not 1: batch 1 saw 'alpha beta' first), 7, 2
    assert got == {5, 7, 2}
    # replay batch 2 with its original id: unchanged
    dedup_gate_batch(b2, store, out, n_buckets=4, batch_id=1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 2}


def test_dedup_gate_out_of_order_replay_exactly_once(spark, tmp_path):
    """A stale driver re-submitting batch N AFTER batch N+1 already
    committed (zombie-driver race: the store is 'ahead' of the replayed
    batch's original view) must keep admission exactly-once: the replay
    anti-joins against the newer store, admits nothing, and dynamic
    overwrite touches no partition — neither its own nor batch N+1's."""
    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(5, "alpha beta"), (7, "gamma delta")], "doc_id long, text string"
    )
    # batch 1 re-delivers 'alpha beta' under a smaller id
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "epsilon zeta")], "doc_id long, text string"
    )
    dedup_gate_batch(b0, store, out, n_buckets=4, batch_id=0)
    dedup_gate_batch(b1, store, out, n_buckets=4, batch_id=1)
    snap_out = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    snap_store = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 2}

    # batch 0 replays AFTER batch 1 committed
    dedup_gate_batch(b0, store, out, n_buckets=4, batch_id=0)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == snap_out
    assert (
        sorted(tuple(r) for r in spark.read.parquet(store).collect()) == snap_store
    )
    # batch 0's own slice specifically still holds exactly its docs
    p0 = spark.read.parquet(out).filter(F.col("__batch") == 0)
    assert {r["doc_id"] for r in p0.collect()} == {5, 7}


def test_dedup_gate_replay_after_lost_store_merge(spark, tmp_path):
    """Crash between step 1 (output write) and step 2 (store merge):
    the replayed batch sees a store MISSING its own fingerprints,
    recomputes the identical admitted set, and dynamic overwrite
    rewrites its own partition byte-identically — then later batches
    proceed exactly-once against the repaired store."""
    import shutil

    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(5, "alpha beta"), (6, "alpha  BETA"), (7, "gamma delta")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "epsilon zeta")], "doc_id long, text string"
    )
    dedup_gate_batch(b0, store, out, n_buckets=4, batch_id=0)
    snap_out = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # simulate the crash: the output committed but the store merge was lost
    shutil.rmtree(store)
    dedup_gate_batch(b0, store, out, n_buckets=4, batch_id=0)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == snap_out
    dedup_gate_batch(b1, store, out, n_buckets=4, batch_id=1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 2}


# --- streaming NEAR-dup gate (streaming/neardup_gate.py) ------------------

TA = "alpha beta gamma delta epsilon zeta eta theta"
TA_REORDER = "theta eta zeta epsilon delta gamma beta alpha alpha"  # same token set
TB = "one two three four five six seven eight"
TC = "red orange yellow green blue indigo violet ultraviolet"


def test_neardup_gate_sequential_batches(spark, tmp_path):
    """Greedy near-dup admission across batches: a later document whose
    token SET matches an admitted one (identical MinHash signature ⇒
    every band collides) is rejected; genuinely new content is
    admitted; within a batch the min-id bucket owner wins."""
    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame(
        [(5, TA), (9, TA_REORDER), (7, TB)], "doc_id long, text string"
    )
    b1 = spark.createDataFrame(
        [(1, TA_REORDER), (2, TC)], "doc_id long, text string"
    )
    neardup_gate_batch(b0, store, out, k=16, bands=8, batch_id=0)
    # 9 rejected within-batch (5 owns its buckets); both admitted docs present
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7}
    neardup_gate_batch(b1, store, out, k=16, bands=8, batch_id=1)
    # 1 is a near-dup of ADMITTED 5 (store hit) despite its smaller id
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 2}
    # store holds only admitted documents' bands: 3 docs × 8 bands max
    assert spark.read.parquet(store).count() <= 3 * 8


def test_neardup_gate_out_of_order_and_lost_store_replay(spark, tmp_path):
    """Replay safety, same contract as dedup_gate: batch 0 replayed
    after batch 1 committed admits nothing and changes nothing; batch 0
    replayed after a LOST store merge recomputes the identical admitted
    slice and repairs the store."""
    import shutil

    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    b0 = spark.createDataFrame([(5, TA), (7, TB)], "doc_id long, text string")
    b1 = spark.createDataFrame([(1, TA_REORDER), (2, TC)], "doc_id long, text string")

    neardup_gate_batch(b0, store, out, k=16, bands=8, batch_id=0)
    snap0 = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # lost store merge: replay batch 0 against a missing store
    shutil.rmtree(store)
    neardup_gate_batch(b0, store, out, k=16, bands=8, batch_id=0)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == snap0

    neardup_gate_batch(b1, store, out, k=16, bands=8, batch_id=1)
    snap_out = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    snap_store = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    # out-of-order: batch 0 replays after batch 1 committed
    neardup_gate_batch(b0, store, out, k=16, bands=8, batch_id=0)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == snap_out
    assert (
        sorted(tuple(r) for r in spark.read.parquet(store).collect()) == snap_store
    )


def test_neardup_gate_streaming_end_to_end(spark, tmp_path):
    """foreachBatch wiring under a real availableNow replay: per-file
    micro-batches, near-dups rejected across batch boundaries."""
    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    src = tmp_path / "docs_src"
    src.mkdir()
    batches = [
        [(5, TA), (7, TB)],
        [(10, TA_REORDER), (11, TC)],
    ]
    import time as _time

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(src / f"b{i}"))
        _time.sleep(1.1)  # distinct mtimes pin file-source batch order

    store = str(tmp_path / "fp_store")
    out = str(tmp_path / "admitted")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "b*"))
    )
    q = (
        stream.writeStream.foreachBatch(
            lambda b, i: neardup_gate_batch(
                b, store, out, k=16, bands=8, batch_id=i
            )
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 11}


def test_neardup_gate_template_flood_bounds(spark, tmp_path):
    """Adversarial band-bucket flood: 10^5 IDENTICAL documents land in
    one micro-batch, making every one of their band buckets maximally
    hot. The gate must stay linear — the within-batch resolution is a
    groupBy-min per bucket plus a per-doc verdict aggregation, never a
    pair join (a pair-shaped plan would materialize ~10^10 rows here) —
    and the state written must be bounded by ADMITTED docs' bands, not
    by the flood."""
    from pyspark.sql import functions as F

    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    n = 100_000
    flood = spark.range(n).select(
        (F.col("id") + 100).alias("doc_id"), F.lit(TA).alias("text")
    )
    distinctive = spark.createDataFrame(
        [(7, TB), (9, TC)], "doc_id long, text string"
    )
    batch = flood.unionByName(distinctive)
    neardup_gate_batch(batch, store, out, k=16, bands=8, batch_id=0)
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    # exactly one survivor of the flood (the min id) + the two distinct
    assert admitted == {100, 7, 9}
    # store rows bounded by admitted docs x bands — 3 x 8, NOT 10^5 x 8
    assert spark.read.parquet(store).count() <= 3 * 8


def test_neardup_gate_ttl_expires_and_rewrites_only_current_epoch(spark, tmp_path):
    """TTL-compacted store (ttl_epochs=2, one batch per epoch):

    - a near-dup of a doc admitted within the window is rejected;
      beyond the window it is admitted again (the retention contract)
    - the merge rewrites ONLY the current epoch's partition dirs:
      older epochs' files are byte-for-byte untouched (file-name set
      equality — a rewrite would mint new part-file uuids)
    - expired epoch dirs are physically vacuumed"""
    import glob
    import os

    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")

    def files(pattern):
        return {
            p
            for p in glob.glob(f"{store}/__bucket=*/{pattern}/*")
            if os.path.basename(p).startswith("part-")
        }

    def run(batch_id, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        neardup_gate_batch(
            df, store, out, k=16, bands=8, batch_id=batch_id, ttl_epochs=2
        )

    run(0, [(5, TA), (7, TB)])
    epoch0 = files("__epoch=0")
    assert epoch0, "epoch-0 slice must exist"
    # b1: TA still in window -> rejected; TC is new -> admitted
    run(1, [(11, TA_REORDER), (12, TC)])
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 12}
    # epoch-0 files untouched by the epoch-1 merge
    assert files("__epoch=0") == epoch0
    # b2: epoch 0 falls out of the window (min_epoch=1): TA re-admitted,
    # TC (epoch 1, in window) still rejects its dup
    run(2, [(21, TA), (22, TC)])
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {
        5, 7, 12, 21,
    }
    # expired epoch physically vacuumed
    assert not glob.glob(f"{store}/__bucket=*/__epoch=0")
    assert glob.glob(f"{store}/__bucket=*/__epoch=1")


def test_embdup_gate_semantic_near_dups(spark, tmp_path):
    """Embedding-modality near-dup gate (sign-LSH band store): an
    identical vector re-delivered in a later batch is rejected; a
    slightly-perturbed copy (cosine ≈ 0.999 — every band collides with
    probability ≈ 1) is rejected as a SEMANTIC near-dup; orthogonal
    content is admitted; within a batch the min-id owner wins."""
    import numpy as np

    from datagouv_tools_spark.streaming.neardup_gate import embdup_gate_batch

    rng = np.random.default_rng(7)
    base = rng.standard_normal(64)
    base /= np.linalg.norm(base)
    near = base.copy()
    near[0] += 0.02  # cosine(base, near) ≈ 0.9998
    near /= np.linalg.norm(near)
    other = rng.standard_normal(64)
    other /= np.linalg.norm(other)
    third = rng.standard_normal(64)
    third /= np.linalg.norm(third)

    def df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "doc_id long, embedding array<float>",
        )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    # batch 0: base twice (ids 9 and 5 — min wins) + other
    embdup_gate_batch(df([(9, base), (5, base), (7, other)]), store, out, batch_id=0)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7}
    # batch 1: perturbed copy of base rejected (semantic near-dup of an
    # ADMITTED doc), genuinely new content admitted
    embdup_gate_batch(df([(1, near), (2, third)]), store, out, batch_id=1)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 2}
    # store bounded by admitted docs x bands
    assert spark.read.parquet(store).count() <= 3 * 10


def test_embdup_gate_replay_and_ttl(spark, tmp_path):
    """The shared engine's replay and TTL properties hold for the
    embedding gate too: an out-of-order replay changes nothing; with
    ttl_epochs=2 a near-dup of an expired admission re-admits."""
    import numpy as np

    from datagouv_tools_spark.streaming.neardup_gate import embdup_gate_batch

    rng = np.random.default_rng(11)
    vs = rng.standard_normal((3, 64))
    vs /= np.linalg.norm(vs, axis=1, keepdims=True)

    def df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in vs[j]]) for i, j in rows],
            "doc_id long, embedding array<float>",
        )

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")
    embdup_gate_batch(df([(5, 0)]), store, out, batch_id=0, ttl_epochs=2)
    embdup_gate_batch(df([(6, 1)]), store, out, batch_id=1, ttl_epochs=2)
    snap_out = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # out-of-order replay of batch 0: nothing changes
    embdup_gate_batch(df([(5, 0)]), store, out, batch_id=0, ttl_epochs=2)
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == snap_out
    # batch 2: vector 0's admission (epoch 0) has expired -> re-admitted;
    # vector 1 (epoch 1, in window) still rejects its dup
    embdup_gate_batch(df([(20, 0), (21, 1)]), store, out, batch_id=2, ttl_epochs=2)
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 6, 20}


def test_dedup_gate_ttl_sliding_window(spark, tmp_path):
    """The exact-dup gate under ttl_epochs=2: a re-delivered document
    is rejected within the window, re-admitted after its admission
    epoch expires, and expired epoch dirs are vacuumed — the same
    compaction contract as the near-dup gates."""
    import glob

    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    store = str(tmp_path / "store")
    out = str(tmp_path / "out")

    def run(batch_id, rows):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_gate_batch(df, store, out, batch_id=batch_id, ttl_epochs=2)

    run(0, [(5, TA), (7, TB)])
    run(1, [(11, TA), (12, TC)])  # TA in window -> rejected
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {5, 7, 12}
    run(2, [(21, TA), (22, TC)])  # TA's epoch 0 expired; TC in window
    assert {r["doc_id"] for r in spark.read.parquet(out).collect()} == {
        5, 7, 12, 21,
    }
    assert not glob.glob(f"{store}/__bucket=*/__epoch=0")


class TestScrubGate:
    """Streaming boilerplate scrub (streaming/scrub_gate): every doc
    emits, repeated segments vanish from all but their corpus-wide
    first occurrence; replay is byte-stable even post-store-merge."""

    BOILER = "all rights reserved do not copy"  # 2 segs at seg_len=3

    @staticmethod
    def _clean(spark, out_path, batch_id):
        rows = (
            spark.read.parquet(out_path)
            .filter(F.col("__batch") == batch_id)
            .orderBy("doc_id")
            .collect()
        )
        return {r["doc_id"]: r["cleaned_text"] for r in rows}

    @pytest.fixture(scope="class")
    def gate(self, spark, tmp_path_factory):
        from datagouv_tools_spark.streaming.scrub_gate import scrub_gate_batch

        root = tmp_path_factory.mktemp("scrub")
        store, out = str(root / "store"), str(root / "out")

        def run(rows, batch_id):
            df = spark.createDataFrame(rows, ["doc_id", "text"])
            scrub_gate_batch(
                df, store, out, seg_len=3, n_buckets=4, batch_id=batch_id
            )

        b0 = [
            (1, f"{self.BOILER} unique alpha text"),
            (2, f"{self.BOILER} unique beta text"),
        ]
        run(b0, 0)
        b1 = [
            (3, f"{self.BOILER} novel gamma words"),
            (4, f"{self.BOILER} unique alpha text"),  # full re-delivery
        ]
        run(b1, 1)
        return run, store, out

    def test_within_batch_first_keeps_later_scrubs(self, spark, gate):
        _, _, out = gate
        got = self._clean(spark, out, 0)
        assert got[1] == f"{self.BOILER} unique alpha text"
        assert got[2] == "unique beta text"

    def test_cross_batch_scrub_via_store(self, spark, gate):
        _, _, out = gate
        got = self._clean(spark, out, 1)
        assert got[3] == "novel gamma words"
        assert got[4] == ""  # every segment previously seen

    def test_replay_after_store_merge_is_byte_stable(self, spark, gate):
        """Replaying batch 0 AFTER batches 0 and 1 merged their
        segments must reproduce the original batch-0 output: the
        novelty check reads only store rows with __batch < 0's id."""
        run, _, out = gate
        before = self._clean(spark, out, 0)
        run(
            [
                (1, f"{self.BOILER} unique alpha text"),
                (2, f"{self.BOILER} unique beta text"),
            ],
            0,
        )
        assert self._clean(spark, out, 0) == before

    def test_out_of_order_replay_preserves_later_batches_store(
        self, spark, gate
    ):
        """The batch-0 replay above must NOT have deleted batch 1's
        store rows: a third delivery of batch 1's novel segment is
        still scrubbed."""
        run, _, out = gate
        run([(9, "novel gamma words end piece")], 2)
        got = self._clean(spark, out, 2)
        assert got[9] == "end piece"

    def test_stream_wrapper_drains_backlog(self, spark, tmp_path):
        from datagouv_tools_spark.streaming.scrub_gate import stream_scrub

        src = str(tmp_path / "in")
        spark.createDataFrame(
            [(1, f"{self.BOILER} one off tail")], ["doc_id", "text"]
        ).coalesce(1).write.parquet(f"{src}/f1")
        spark.createDataFrame(
            [(2, f"{self.BOILER} second doc body")], ["doc_id", "text"]
        ).coalesce(1).write.parquet(f"{src}/f2")
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/*")
        )
        q = stream_scrub(
            stream,
            str(tmp_path / "store"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            seg_len=3,
            n_buckets=4,
        )
        q.awaitTermination()
        all_rows = {
            r["doc_id"]: r["cleaned_text"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }
        # one of the two docs was processed first and keeps the boiler;
        # the other is scrubbed to its unique tail
        boiler_keepers = [
            d for d, t in all_rows.items() if t.startswith(self.BOILER)
        ]
        assert len(boiler_keepers) == 1
        assert len(all_rows) == 2


def test_scrub_gate_template_flood_bounds(spark, tmp_path):
    """Mass re-delivery (the crawler failure mode): one micro-batch of
    20k IDENTICAL docs + 2 distinct. The within-batch winner selection
    is groupBy-min over segment hashes — algebraic, so the flood
    collapses map-side; no pair join ever forms. Exactly one copy keeps
    the template text, every other copy scrubs to empty, and the store
    grows by |template segments| + |distinct segments| rows, not by
    anything proportional to the flood."""
    from datagouv_tools_spark.streaming.scrub_gate import scrub_gate_batch

    template = "spark scan shuffle join agg sort window stream batch line"
    n_flood = 20_000
    flood = spark.range(n_flood).select(
        F.col("id").alias("doc_id"), F.lit(template).alias("text")
    )
    distinct = spark.createDataFrame(
        [
            (n_flood, "totally fresh alpha content body"),
            (n_flood + 1, "another novel beta document tail"),
        ],
        ["doc_id", "text"],
    )
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    scrub_gate_batch(
        flood.unionByName(distinct), store, out, seg_len=3, n_buckets=4,
        batch_id=0,
    )
    res = spark.read.parquet(out)
    assert res.count() == n_flood + 2
    keepers = res.filter(F.col("cleaned_text") != "").count()
    assert keepers == 3  # doc 0 (min id) + the two distinct docs
    assert res.filter(
        (F.col("doc_id") == 0) & (F.col("cleaned_text") == template)
    ).count() == 1
    # store: 4 template segs (10 toks / 3) + 2+2 distinct segs
    assert spark.read.parquet(store).count() == 8


def test_scrub_gate_merge_rewrites_only_current_epoch(spark, tmp_path):
    """Bounded merge: a batch's store write touches ONLY its own
    ``__batch`` partitions, so a later batch must leave every earlier
    batch's part-files byte-untouched (same contract, and same
    file-name-set check, as the near-dup gate's TTL store; r8 layout
    nests __batch under __epoch)."""
    import glob

    from datagouv_tools_spark.streaming.scrub_gate import scrub_gate_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    scrub_gate_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma shared tail here")], ["doc_id", "text"]
        ),
        store, out, seg_len=3, n_buckets=4, batch_id=0, epoch_batches=1,
    )
    epoch0 = sorted(
        glob.glob(f"{store}/*/__epoch=0/__batch=0/part-*.parquet")
    )
    assert epoch0
    scrub_gate_batch(
        spark.createDataFrame(
            [(2, "alpha beta gamma novel second doc")], ["doc_id", "text"]
        ),
        store, out, seg_len=3, n_buckets=4, batch_id=1, epoch_batches=1,
    )
    assert (
        sorted(glob.glob(f"{store}/*/__epoch=0/__batch=0/part-*.parquet"))
        == epoch0
    )
    # cross-epoch novelty still enforced: the shared leading segment
    # was scrubbed from doc 2
    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[2] == "novel second doc"


def test_scrub_gate_ttl_expires_and_rekeeps(spark, tmp_path):
    """TTL retention: boilerplate first seen more than ttl_epochs ago is
    treated as novel again (re-kept once), and expired epoch dirs are
    physically vacuumed."""
    import glob

    from datagouv_tools_spark.streaming.scrub_gate import scrub_gate_batch

    store, out = str(tmp_path / "store"), str(tmp_path / "out")

    def run(doc_id, text, batch_id):
        scrub_gate_batch(
            spark.createDataFrame([(doc_id, text)], ["doc_id", "text"]),
            store, out, seg_len=3, n_buckets=4, batch_id=batch_id,
            epoch_batches=1, ttl_epochs=2,
        )

    boiler = "alpha beta gamma"
    run(1, f"{boiler} one tail x", 0)
    run(2, f"{boiler} two tail y", 1)   # within TTL: scrubbed
    run(3, f"{boiler} tri tail z", 3)   # epoch-0 admission now expired
    got = {
        r["doc_id"]: r["cleaned_text"]
        for r in spark.read.parquet(out).collect()
    }
    assert got[1].startswith(boiler)
    assert got[2] == "two tail y"
    # boiler was only stored at epoch 0 (kept by doc 1); by batch 3
    # (epoch 3, TTL=2 -> window {2,3}) that admission expired, so the
    # template is novel again and re-kept exactly once
    assert got[3].startswith(boiler)
    # expired epoch dirs vacuumed
    assert not glob.glob(f"{store}/*/__epoch=0")


class TestSimdupGate:
    """SimHash banded-Hamming admission (third modality through the
    shared engine): pigeonhole guarantees every near-dup within
    Hamming distance < n_bands is rejected."""

    def _gate(self, spark, tmp_path, rows, batch_id=0):
        from datagouv_tools_spark.streaming.neardup_gate import (
            simdup_gate_batch,
        )

        df = spark.createDataFrame(rows, "doc_id bigint, text string")
        simdup_gate_batch(
            df, str(tmp_path / "store"), str(tmp_path / "out"),
            batch_id=batch_id,
        )
        return {
            r["doc_id"]
            for r in spark.read.parquet(str(tmp_path / "out")).collect()
        }

    def test_identical_and_reordered_rejected_distinct_admitted(
        self, spark, tmp_path
    ):
        """SimHash is bag-of-words: a token-reordered copy has the
        IDENTICAL signature (the near-dup class this gate owns —
        MinHash also catches it, but SimHash state is 1 long per doc
        instead of k·bands); unrelated text is admitted. NB: a single
        changed token in a SHORT doc flips low-margin bits all over the
        signature — SimHash hamming concentrates only for long docs,
        which is why the deterministic test uses reordering."""
        words = [f"tok{i}" for i in range(60)]
        base = " ".join(words)
        reordered = " ".join(reversed(words))
        far = " ".join(f"zz{i}" for i in range(60))
        admitted = self._gate(
            spark, tmp_path,
            [(1, base), (2, base), (3, reordered), (4, far)],
        )
        assert 1 in admitted and 4 in admitted
        assert 2 not in admitted, "identical doc shares every band"
        assert 3 not in admitted, "reordered doc has the same signature"

    def test_cross_batch_and_replay(self, spark, tmp_path):
        base = " ".join(f"tok{i}" for i in range(60))
        a0 = self._gate(spark, tmp_path, [(1, base)], batch_id=0)
        assert a0 == {1}
        # batch 1: a later copy is rejected by the store
        a1 = self._gate(
            spark, tmp_path,
            [(9, base), (10, " ".join(f"q{i}" for i in range(60)))],
            batch_id=1,
        )
        assert a1 == {1, 10}  # out dir accumulates both batch slices
        # replay batch 1 against the merged store: nothing changes
        again = self._gate(
            spark, tmp_path,
            [(9, base), (10, " ".join(f"q{i}" for i in range(60)))],
            batch_id=1,
        )
        assert again == {1, 10}

    def test_hamming_guarantee_by_construction(self, spark):
        """Pin the pigeonhole claim directly on the signatures: flip
        fewer than n_bands bits of a simhash and at least one 16-bit
        band is untouched."""
        n_bands, width = 4, 16
        sig = 0x0123456789ABCDEF
        import itertools

        for flips in itertools.combinations((0, 17, 33), 3):  # 3 < 4 bands
            mutated = sig
            for b in flips:
                mutated ^= 1 << b
            shared = any(
                (sig >> (b * width)) & 0xFFFF
                == (mutated >> (b * width)) & 0xFFFF
                for b in range(n_bands)
            )
            assert shared


class TestAutoStatePartitions:
    """Pin the r8 bytes-sized state-store partitioning: tiny replays
    keep the minimal 2 stores, data-bearing sources fan out, non-file
    sources fall back — and the sizing is read off the analyzed plan,
    so it composes through arbitrary transformations."""

    def test_sizes_by_source_bytes(self, spark):
        from datagouv_tools_spark.streaming.source import (
            auto_state_partitions,
            read_events_stream,
        )

        tiny = read_events_stream(spark, "/root/testdata/sf0.001")
        big = read_events_stream(spark, "/root/testdata/sf0.1")
        assert auto_state_partitions(tiny.groupBy("user_id").count()) == 2
        n = auto_state_partitions(big.groupBy("user_id").count())
        assert 4 <= n <= 16  # 2 MiB / 256 KiB = 8 today; bounds, not a pin

    def test_two_source_join_budgets_per_store(self, spark):
        """A stream-stream join keeps FOUR state stores per partition,
        so its sizing is a bytes-per-STORE budget: both sides' bytes
        sum, then the count divides by 4 (r9, measured — the interval
        joins run 2.8-4.0 s at 2-4 partitions vs 6.4-20 s at the
        single-stream sizing). Asserted against the joined plan's RAW
        source bytes (not 2x the clamped single-stream count, which
        only coincided at the current fixture size — ADVICE r9), plus
        the design bound: the quartered count never exceeds the
        single-stream sizing."""
        from datagouv_tools_spark.streaming.source import (
            _STATE_AUTO_MAX,
            _STATE_AUTO_TARGET_BYTES,
            _stream_source_bytes,
            auto_state_partitions,
            read_events_stream,
        )

        a = read_events_stream(spark, "/root/testdata/sf0.1")
        b = read_events_stream(spark, "/root/testdata/sf0.1").withColumnRenamed(
            "event_id", "eid2"
        )
        joined = a.join(b, "user_id")
        single = auto_state_partitions(a.groupBy("user_id").count())
        got = auto_state_partitions(joined)
        raw = _stream_source_bytes(joined)
        assert raw and raw > 0  # both sides' bytes are visible and sum
        expected = max(
            2,
            min(
                _STATE_AUTO_MAX,
                (-(-raw // _STATE_AUTO_TARGET_BYTES)) // 4,
            ),
        )
        assert got == expected
        assert 2 <= got <= single

    def test_union_of_streams_not_quartered(self, spark):
        """A UNION of two file streams feeding one stateful aggregate
        keeps ONE state store per partition — it has two streaming
        relations in its plan but no stream-stream Join, so it must get
        the plain bytes sizing, not the quarter budget (ADVICE r9: the
        old substring count conflated these shapes)."""
        from datagouv_tools_spark.streaming.source import (
            _STATE_AUTO_MAX,
            _STATE_AUTO_TARGET_BYTES,
            _has_stream_stream_join,
            _stream_source_bytes,
            auto_state_partitions,
            read_events_stream,
        )

        a = read_events_stream(spark, "/root/testdata/sf0.1")
        b = read_events_stream(spark, "/root/testdata/sf0.1")
        unioned = a.unionByName(b).groupBy("user_id").count()
        assert not _has_stream_stream_join(unioned)
        joined = a.join(
            b.withColumnRenamed("event_id", "eid2"), "user_id"
        )
        assert _has_stream_stream_join(joined)
        raw = _stream_source_bytes(unioned)
        expected = max(
            2, min(_STATE_AUTO_MAX, -(-raw // _STATE_AUTO_TARGET_BYTES))
        )
        assert auto_state_partitions(unioned) == expected

    def test_non_file_source_falls_back(self, spark):
        from datagouv_tools_spark.streaming.source import (
            auto_state_partitions,
        )

        rate = spark.readStream.format("rate").load()
        assert auto_state_partitions(rate) == 2

    def test_remote_source_reports_unknown_not_zero(self):
        """A non-local path (s3://, hdfs://) can't be stat'd with
        os.path — _stream_source_bytes must return None (documented
        fallback) rather than 0, which would silently size every real
        remote replay at the minimal 2 partitions."""
        from datagouv_tools_spark.streaming.source import (
            _stream_source_bytes,
        )

        class _FakePlan:
            def __init__(self, text):
                self._text = text

            def toString(self):
                return self._text

        class _FakeQE:
            def __init__(self, text):
                self._plan = _FakePlan(text)

            def analyzed(self):
                return self._plan

        class _FakeDF:
            def __init__(self, text):
                self._jdf = self

            def queryExecution(self):
                return _FakeQE(self._text)

            _text = ""

        df = _FakeDF("")
        df._text = "StreamingRelation Map(path -> s3://bucket/events/)"
        assert _stream_source_bytes(df) is None
        df._text = "StreamingRelation Map(path -> hdfs://nn/warehouse/t)"
        assert _stream_source_bytes(df) is None
        # file: URIs stay on the local-stat path
        df._text = "StreamingRelation Map(path -> file:/root/testdata/sf0.001/events.parquet)"
        b = _stream_source_bytes(df)
        assert b and b > 0

    def test_bad_sentinel_raises_not_conf_set(self, spark):
        """Any string other than 'auto' must fail fast with ValueError
        instead of writing a non-numeric shuffle-partitions conf that
        explodes later inside the stream."""
        import pytest

        from datagouv_tools_spark.streaming.source import (
            read_events_stream,
            run_to_memory,
        )

        ev = read_events_stream(spark, "/root/testdata/sf0.001")
        with pytest.raises(ValueError, match="'Auto'"):
            run_to_memory(
                ev.groupBy("user_id").count(),
                output_mode="complete",
                state_partitions="Auto",
            )


_DOCS = [(1, TA), (2, TA_REORDER), (3, TB), (4, TC + " " + TB)]


def _run_dedup(spark, root, out):
    from datagouv_tools_spark.streaming.dedup_gate import dedup_gate_batch

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    dedup_gate_batch(docs, root, out, n_buckets=4, batch_id=0)
    return [out, root]


def _run_neardup(spark, root, out):
    from datagouv_tools_spark.streaming.neardup_gate import neardup_gate_batch

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    neardup_gate_batch(docs, root, out, k=16, bands=8, n_store_buckets=4)
    return [out, root]


def _run_scrub(spark, root, out):
    from datagouv_tools_spark.streaming.scrub_gate import scrub_gate_batch

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    scrub_gate_batch(docs, root, out, seg_len=3, n_buckets=4, batch_id=0)
    return [out, root]


def _run_upsert(spark, root, out):
    from datagouv_tools_spark.streaming.upsert import upsert_batch

    rows = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, ts long, v string"
    )
    upsert_batch(rows, root, ["k"], ["ts"], n_buckets=4)
    return [root]


def _run_scd2(spark, root, out):
    from datagouv_tools_spark.streaming.scd2_maintain import scd2_batch

    events = spark.createDataFrame(
        [(1, "view", 1, 100), (1, "view", 2, 101), (1, "buy", 3, 102),
         (2, "view", 1, 103)],
        "user_id long, event_type string, ts long, event_id long",
    )
    scd2_batch(spark, events, root, out, n_buckets=4)
    return [root, out]


@pytest.mark.parametrize(
    "run", [_run_dedup, _run_neardup, _run_scrub, _run_upsert, _run_scd2],
    ids=["dedup_gate", "neardup_gate", "scrub_gate", "upsert", "scd2"],
)
def test_store_root_left_by_failed_first_write_reads_as_empty(
    spark, tmp_path, run
):
    """A first store write that dies leaves the root holding only its
    ``.spark-staging-*`` dir. Reading that root raises
    UNABLE_TO_INFER_SCHEMA, so a "root exists" probe would wedge the
    stream: every restart replays the batch and fails the same way.
    The store must treat such a root as empty, and the batch must land
    exactly as on a fresh store."""

    def snapshot(paths):
        return [
            sorted(tuple(r) for r in spark.read.parquet(p).collect())
            for p in paths
        ]

    want = snapshot(run(spark, str(tmp_path / "fresh"), str(tmp_path / "fresh_out")))

    root = tmp_path / "wedged"
    staged = root / ".spark-staging-0f1e2d3c" / "__bucket=1"
    staged.mkdir(parents=True)
    (staged / "part-00000-dead.snappy.parquet").write_bytes(b"torn")
    got = snapshot(run(spark, str(root), str(tmp_path / "wedged_out")))
    assert got == want


def test_store_module_owns_state_layout():
    """Only ``streaming/store.py`` knows how streaming state sits on
    disk: no other streaming module opens a Hadoop FileSystem, sets
    ``partitionOverwriteMode`` or builds the ``pmod(xxhash64(...))``
    bucket, and no code borrows a private helper from a streaming
    module other than the store."""
    import ast
    import pathlib
    import re

    import datagouv_tools_spark

    pkg = pathlib.Path(datagouv_tools_spark.__file__).parent
    for path in sorted((pkg / "streaming").glob("*.py")):
        if path.name == "store.py":
            continue
        src = path.read_text()
        assert "getFileSystem" not in src, path.name
        assert "partitionOverwriteMode" not in src, path.name
        assert not re.search(r"pmod\(\s*(F\.)?xxhash64", src), path.name

    borrowed = []
    for path in [*pkg.rglob("*.py"), *(pkg.parent / "tools").glob("*.py")]:
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").startswith("datagouv_tools_spark.streaming.")
                and node.module != "datagouv_tools_spark.streaming.store"
            ):
                borrowed += [
                    f"{path.name}: {node.module}.{a.name}"
                    for a in node.names
                    if a.name.startswith("_")
                ]
    assert borrowed == []
