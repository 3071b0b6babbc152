"""Structured-streaming queries: bounded availableNow replays of gates, maintainers, and stream-stream joins.

Mechanically split from the flat queries.py (r10); see the package
__init__ for conventions. Registration side effects only — import
through ``datagouv_tools_spark.queries``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.sources.catalog import load_table
from ._registry import dec, dround, query, t
from ._common import _SESSION_ORACLE

@query("events_session_stats_stream", _SESSION_ORACLE)
def events_session_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming path for events_session_stats:
    readStream (file source, micro-batched) → withWatermark →
    session_window agg → availableNow replay to a memory sink — and it
    must match the same gaps-and-islands SQL oracle as the batch twin."""
    from datagouv_tools_spark.streaming.source import read_events_stream, run_to_memory
    from datagouv_tools_spark.streaming.windows import session_agg

    ev = read_events_stream(spark, sf_dir)
    sessions = session_agg(
        ev,
        "30 minutes",
        {
            "n_events": F.count(F.lit(1)),
            "sum_value": dround(F.sum(dec("value"))),
        },
        keys=("user_id",),
    )
    return (
        run_to_memory(sessions, output_mode="complete")
        .withColumnRenamed("window_start", "session_start")
        .withColumnRenamed("window_end", "session_end")
        .orderBy("user_id", "session_start")
    )


@query(
    "events_stream_user_totals",
    """
    SELECT user_id, COUNT(*) AS n_events,
           CAST(ROUND(SUM(value), 2) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator
    (streaming/stateful.running_user_totals, applyInPandasWithState):
    per-user running totals across micro-batches; on a bounded replay
    the final update per user equals the batch groupBy totals. Float
    sums rounded to 2 decimals on both sides (double accumulation order
    differs by ~1 ULP between engines)."""
    from datagouv_tools_spark.streaming.source import read_events_stream, run_to_memory
    from datagouv_tools_spark.streaming.stateful import running_user_totals

    ev = read_events_stream(spark, sf_dir)
    totals = run_to_memory(running_user_totals(ev), output_mode="update")
    # update mode re-emits a row per key per batch: keep the last (= max
    # n_events) per user, then round for cross-engine float stability.
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        totals.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", F.round("sum_value", 2).alias("sum_value"))
        .orderBy("user_id")
    )


@query(
    "events_stream_enriched_segments",
    """
    SELECT c_mktsegment AS segment, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    ORDER BY segment, event_type
    """,
)
def events_stream_enriched_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the REAL readStream events feed joined
    to the static customer dimension (user_id = c_custkey), then
    aggregated per (segment, event_type) — the canonical streaming
    enrichment pattern. The static side joins into every micro-batch
    with no stream-side state (unlike stream-stream); customer is
    SF-scaling so it carries no forced broadcast hint — the planner
    broadcasts it while it fits (a bucketed layout co-locates it past
    that); on a bounded availableNow replay the final
    complete-mode aggregate equals the batch join oracle."""
    from datagouv_tools_spark.sources.catalog import load_table
    from datagouv_tools_spark.streaming.source import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    enriched = ev.join(cust, ev.user_id == cust.c_custkey).groupBy(
        F.col("c_mktsegment").alias("segment"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dround(F.sum(dec("value"))).alias("sum_value"),
    )
    return run_to_memory(enriched, output_mode="complete").orderBy(
        "segment", "event_type"
    )


@query(
    "events_stream_trending",
    """
    WITH w AS (
      SELECT time_bucket(INTERVAL '6 hours', ts) AS window_start,
             event_type, COUNT(*) AS n_events
      FROM events
      GROUP BY 1, 2
    )
    SELECT window_start, event_type, n_events, rk FROM (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type) AS rk
      FROM w
    ) WHERE rk <= 2
    ORDER BY window_start, rk
    """,
)
def events_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming trending-items: the REAL readStream feed aggregates
    6-hour tumbling windows per event type (complete mode, bounded
    availableNow replay), then the top-2 per window is ranked over the
    memory-sink RESULT — the standard "aggregate in the stream,
    decorate in batch" split, because rank-over-aggregate isn't
    expressible pre-sink in a streaming query. State is bounded by
    |windows|·|types|; at 100 TB the same aggregate writes to an
    append sink with a watermark and the rank runs on the serving
    store."""
    from pyspark.sql.window import Window

    from datagouv_tools_spark.streaming.source import read_events_stream, run_to_memory

    ev = read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    agg = ev.groupBy(
        F.window("ts", "6 hours").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    result = run_to_memory(agg, output_mode="complete")
    wk = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        result.select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 2)
        .orderBy("window_start", "rk")
    )


def _two_file_fixture(prefix: str, first: DataFrame, second: DataFrame) -> str:
    """Write ``first`` and ``second`` as one parquet file each, ``f1``
    and ``f2`` under a fresh temp dir, and return the dir. The dir is
    removed when the interpreter exits, since the fixture caches below
    hold it for the process's life."""
    import atexit
    import os
    import shutil
    import tempfile

    src = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, src, True)
    # deterministic batch order: FileStreamSource sorts by mtime — pin
    # f1 strictly earlier so batch 0 is always ``first``
    t0 = 1_600_000_000
    for sub, df, ts_ in (("f1", first, t0), ("f2", second, t0 + 100)):
        # coalesce(1): a 2-FILE fixture is the point (one micro-batch
        # per file) — never copy this into a production write path
        df.coalesce(1).write.parquet(f"{src}/{sub}")
        for name in os.listdir(f"{src}/{sub}"):
            os.utime(f"{src}/{sub}/{name}", (ts_, ts_))
    return src


#: process-lifetime cache of the two-file replay fixture (src dir +
#: split id) per sf_dir — the fixture is harness scaffolding (a real
#: stream's source files pre-exist), so repeated invocations (bench
#: repeats, correctness re-samples) should pay for the GATE, not for
#: rewriting identical input files. Store/out/checkpoint dirs are NOT
#: cached: every invocation replays the stream from scratch.
_SCRUB_STREAM_FIXTURE: dict[str, str] = {}


def _scrub_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    if sf_dir in _SCRUB_STREAM_FIXTURE:
        return _SCRUB_STREAM_FIXTURE[sf_dir]
    docs = t(spark, sf_dir, "documents")
    split_id = docs.agg(
        F.percentile_approx("doc_id", 0.5, 1000000)
    ).collect()[0][0]
    docs = docs.select("doc_id", "text")
    src = _two_file_fixture(
        "scrub_stream_src_",
        docs.filter(F.col("doc_id") < split_id),
        docs.filter(F.col("doc_id") >= split_id),
    )
    _SCRUB_STREAM_FIXTURE[sf_dir] = src
    return src


@query("doc_scrub_stream")  # shares doc_boilerplate_scrub's oracle (below)
def doc_scrub_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The boilerplate scrub as a REAL stream (streaming/scrub_gate):
    documents replay as two doc_id-ordered micro-batches through the
    segment-store gate, and the cleaned corpus is aggregated exactly
    like doc_boilerplate_scrub — against the SAME full value-hash
    oracle. The equivalence is not luck: batch 1 holds all doc_ids
    below the split, so the gate's two-tier rule (within-batch min
    (doc_id, seg_idx), then earlier-batch store hits) coincides with
    the global first-occurrence rule the batch oracle encodes. A
    wrongly admitted, wrongly scrubbed, or replay-duplicated segment
    anywhere in the gate flips cleaned_xor.

    Scale: the gate's per-batch cost is segmentation + touched-bucket
    anti-joins (see streaming/scrub_gate.py); this query adds one
    doc_id-partitioned replay and the same reassembly join as the
    batch twin."""
    import shutil
    import tempfile

    from datagouv_tools_spark.functions.text import tokens
    from datagouv_tools_spark.functions.xhash import md5_hash60
    from datagouv_tools_spark.streaming.scrub_gate import stream_scrub

    docs = t(spark, sf_dir, "documents")
    src = _scrub_stream_fixture(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="scrub_stream_")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    # n_buckets sizes the store layout only (semantics unchanged): a
    # production store sizes buckets so each partition dir stays an
    # executor-friendly unit, growing the count with corpus volume.
    # 2 right-sizes this replay's ~2.5k-segment batches — 8 dirs per
    # batch paid 4x the dynamic-overwrite commit protocol for
    # kilobyte files (guide §6 small-files; streamprof r12 measured
    # the store write 0.95 s/batch at 8 buckets vs 0.68 s at 2).
    q = stream_scrub(
        stream, f"{tmp}/store", f"{tmp}/out", f"{tmp}/ckpt", seg_len=8,
        n_buckets=2,
    )
    q.awaitTermination()
    out = spark.read.parquet(f"{tmp}/out").select(
        "doc_id", "n_segs", "n_kept", "cleaned_text"
    )
    joined = out.join(
        docs.select("doc_id", "source", F.size(tokens("text")).alias("__nt")),
        "doc_id",
    )
    per_doc = joined.select(
        "source",
        (F.col("n_kept") < F.col("n_segs")).cast("int").alias("changed"),
        (
            F.col("__nt")
            - F.when(F.col("cleaned_text") == "", F.lit(0)).otherwise(
                F.size(F.split(F.col("cleaned_text"), " "))
            )
        ).alias("toks_removed"),
        md5_hash60(
            F.concat_ws(
                "#", F.col("doc_id").cast("string"), F.col("cleaned_text")
            )
        ).alias("__doc_hash"),
    )
    result = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("changed").cast("bigint").alias("n_docs_changed"),
            F.sum("toks_removed").cast("bigint").alias("tokens_removed"),
            F.expr("bit_xor(__doc_hash)").alias("cleaned_xor"),
        )
        .orderBy("source")
        .localCheckpoint()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return result


_JOIN_IVM_STREAM_FIXTURE: dict[str, str] = {}


def _join_ivm_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two-file CDC fixture for the streaming join maintainer: file 1 is
    the initial load (inserts of both base snapshots), file 2 the
    two-sided delta. Restricted to o_orderkey%4==1 — the full two-sided
    semantics at a quarter of the replay volume."""
    if sf_dir in _JOIN_IVM_STREAM_FIXTURE:
        return _JOIN_IVM_STREAM_FIXTURE[sf_dir]
    orders = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", "o_orderpriority")
    )
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 1)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            "l_extendedprice",
            "l_suppkey",
            "l_partkey",
        )
    )
    a_old = orders.filter(F.col("o_orderkey") % 10 != 0)
    b_old = li.filter(F.col("l_suppkey") % 3 != 0)

    def cdc(df, side, op, acols=False):
        return df.select(
            F.lit(side).alias("side"),
            F.lit(op).alias("op"),
            "o_orderkey",
            (
                F.col("o_orderpriority")
                if acols
                else F.lit(None).cast("string")
            ).alias("o_orderpriority"),
            (
                F.lit(None).cast("int") if acols else F.col("l_linenumber")
            ).alias("l_linenumber"),
            (
                F.lit(None).cast("double")
                if acols
                else F.col("l_extendedprice")
            ).alias("l_extendedprice"),
        )

    load = cdc(a_old, "a", "I", True).unionByName(cdc(b_old, "b", "I"))
    delta = (
        cdc(orders.filter(F.col("o_orderkey") % 10 == 0), "a", "I", True)
        .unionByName(cdc(a_old.filter(F.col("o_orderkey") % 7 == 0), "a", "D", True))
        .unionByName(cdc(li.filter(F.col("l_suppkey") % 3 == 0), "b", "I"))
        .unionByName(cdc(b_old.filter(F.col("l_partkey") % 11 == 0), "b", "D"))
    )
    src = _two_file_fixture("join_ivm_stream_src_", load, delta)
    _JOIN_IVM_STREAM_FIXTURE[sf_dir] = src
    return src


@query(
    "orders_join_ivm_stream",
    """
    WITH a_after AS (
      SELECT o_orderkey, o_orderpriority FROM orders
      WHERE o_orderkey % 4 = 1
        AND ((o_orderkey % 10 != 0 AND o_orderkey % 7 != 0)
             OR o_orderkey % 10 = 0)
    ),
    b_after AS (
      SELECT l_orderkey AS o_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      WHERE l_orderkey % 4 = 1
        AND ((l_suppkey % 3 != 0 AND l_partkey % 11 != 0)
             OR l_suppkey % 3 = 0)
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2)
                AS DOUBLE) AS revenue
    FROM a_after JOIN b_after USING (o_orderkey)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def orders_join_ivm_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-view maintenance as a REAL stream
    (streaming/join_maintain): the initial load and the two-sided CDC
    delta replay as two micro-batches through the versioned
    a/b/view store, and the final stored view is aggregated exactly
    like orders_lineitem_join_ivm — against a from-scratch re-join
    oracle. A double-applied delta, torn multi-relation commit, or
    tombstoned sibling anywhere in the maintainer shifts the counts or
    the decimal-exact revenue.

    Scale: per batch the maintainer runs three broadcast-delta joins
    plus one stored-view pass (see streaming/join_maintain.py); the
    replay is o_orderkey-restricted only to bound FIXTURE volume, not
    semantics."""
    import shutil
    import tempfile

    from datagouv_tools_spark.streaming.join_maintain import (
        join_maintain_batch,
        read_join_store,
    )
    from datagouv_tools_spark.streaming.source import start_stream

    src = _join_ivm_stream_fixture(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="join_ivm_stream_")
    stream = (
        spark.readStream.schema(
            "side string, op string, o_orderkey bigint, "
            "o_orderpriority string, l_linenumber int, l_extendedprice double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = start_stream(
        stream.writeStream.foreachBatch(
            lambda b, i: join_maintain_batch(
                b,
                f"{tmp}/store",
                tmp,
                i,
                ["o_orderkey"],
                ["o_orderpriority"],
                ["l_linenumber", "l_extendedprice"],
            )
        ).trigger(availableNow=True),
        f"{tmp}/ckpt",
    )
    q.awaitTermination()
    view = read_join_store(spark, f"{tmp}/store", "view")
    result = (
        view.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            dround(
                F.sum(F.col("l_extendedprice").cast("decimal(28,6)")), 2
            ).alias("revenue"),
        )
        .orderBy("o_orderpriority")
        .localCheckpoint()
    )
    shutil.rmtree(tmp, ignore_errors=True)
    return result


@query(
    "events_stream_click_view_join",
    """
    SELECT c.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT c.event_id) AS BIGINT) AS n_clicks,
           CAST(COUNT(DISTINCT v.event_id) AS BIGINT) AS n_views,
           CAST(SUM(date_diff('microsecond', v.ts, c.ts)) AS BIGINT)
             AS sum_lag_us
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts >= c.ts - INTERVAL '10 minutes'
     AND v.ts <= c.ts
    GROUP BY c.user_id
    ORDER BY c.user_id
    """,
)
def events_stream_click_view_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL watermarked stream-stream interval join
    (streaming/joins.interval_join on two live file streams): clicks
    and views arrive as separate watermarked streams, every view within
    10 minutes before a same-user click joins inside the streaming
    engine's symmetric-hash join state, and the bounded replay's
    appended output is summarized per user with an exact microsecond
    lag sum — hash-checked against the batch interval-join oracle
    (stream == batch is the correctness contract for bounded replays).

    Scale: the interval + watermark bound BOTH sides' join state to
    O(rate × (delay + interval)) — old rows age out of the state store
    as the watermark advances, so an unbounded stream never accumulates
    unbounded state; that bound is precisely the condition under which
    Spark admits an inner stream-stream join. The per-user summary runs
    AFTER the replay on the joined (bounded) result."""
    from datagouv_tools_spark.streaming.joins import interval_join
    from datagouv_tools_spark.streaming.source import (
        read_events_stream,
        run_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    joined = run_to_memory(
        interval_join(
            clicks,
            views,
            on="user_id",
            lower="10 minutes",
            upper="0 seconds",
            left_ts="c_ts",
            right_ts="ts",
            watermark="10 minutes",
        ).select(
            "user_id",
            "click_id",
            "view_id",
            (
                F.unix_micros(F.col("c_ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).alias("lag_us"),
        ),
        output_mode="append",
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.countDistinct("click_id").cast("bigint").alias("n_clicks"),
            F.countDistinct("view_id").cast("bigint").alias("n_views"),
            F.sum("lag_us").cast("bigint").alias("sum_lag_us"),
        )
        .orderBy("user_id")
    )


@query(
    "events_stream_orphan_clicks",
    """
    WITH mx AS (
      SELECT LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'view')
             ) - INTERVAL '20 minutes' AS cutoff
    ),
    j AS (
      SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        ON c.user_id = v.user_id
       AND v.ts >= c.ts - INTERVAL '10 minutes'
       AND v.ts <= c.ts
      WHERE c.ts <= (SELECT cutoff FROM mx)
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT click_id) AS BIGINT) AS n_clicks,
           CAST(COUNT(DISTINCT click_id)
                FILTER (view_id IS NULL) AS BIGINT) AS n_orphans,
           CAST(COUNT(view_id) AS BIGINT) AS n_pairs
    FROM j GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_stream_orphan_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the watermark-GATED
    emission semantics, driver-checked: a click with no view in its
    10-minute lookback emits its null-padded row only once the global
    watermark proves no matching view can still arrive. On a bounded
    replay the final watermark stops 10 minutes shy of stream end, so
    the summary pins a cutoff a full extra delay below that
    (min(max click ts, max view ts) − 20 min): every click at or below
    the cutoff has provably final state in BOTH engines, making
    stream == batch deterministic without waiting on wall-clock.

    Scale: outer stream-stream state is the inner join's plus the
    not-yet-matched left rows — still O(rate × (delay + interval)),
    evicted by the same watermark; orphan detection (ad clicks with no
    attributable impression) is THE fraud/integrity stream job."""
    from datagouv_tools_spark.streaming.joins import interval_join
    from datagouv_tools_spark.streaming.source import (
        read_events_stream,
        run_to_memory,
    )

    ev_static = t(spark, sf_dir, "events")
    mx = ev_static.filter(
        F.col("event_type").isin("click", "view")
    ).agg(
        (
            F.least(
                F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                F.max(F.when(F.col("event_type") == "view", F.col("ts"))),
            ).cast("timestamp")
            - F.expr("INTERVAL 20 minutes")
        ).alias("cutoff")
    )
    # two SEPARATE source instances (see comment in the join call)
    clicks = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    views = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select("user_id", F.col("event_id").alias("view_id"), "ts")
    )
    joined = run_to_memory(
        interval_join(
            clicks,
            views,
            on="user_id",
            lower="10 minutes",
            upper="0 seconds",
            left_ts="c_ts",
            right_ts="ts",
            watermark="10 minutes",
            how="left_outer",
            # two separate source instances above: a left-outer
            # self-join from ONE readStream hits Spark's self-join
            # attribute dedup, which resolves the kept key to the
            # null-padded right side for orphan rows
        ).select("user_id", "click_id", "view_id", "c_ts"),
        output_mode="append",
    )
    return (
        joined.crossJoin(F.broadcast(mx))
        .filter(F.col("c_ts").cast("timestamp") <= F.col("cutoff"))
        .groupBy("user_id")
        .agg(
            F.countDistinct("click_id").cast("bigint").alias("n_clicks"),
            F.countDistinct(
                F.when(F.col("view_id").isNull(), F.col("click_id"))
            )
            .cast("bigint")
            .alias("n_orphans"),
            F.count("view_id").cast("bigint").alias("n_pairs"),
        )
        .orderBy("user_id")
    )


_SCD2_STREAM_FIXTURE: dict = {}


def _scd2_stream_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two ts-ordered micro-batch files of the user_id<20 event slice —
    batch 0 is the early half, batch 1 the late half (the
    log-compacted-topic ordering contract), pinned via mtimes exactly
    like _scrub_stream_fixture."""
    if sf_dir in _SCD2_STREAM_FIXTURE:
        return _SCD2_STREAM_FIXTURE[sf_dir]
    ev = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    split_ts = ev.agg(F.percentile_approx("ts", 0.5, 1000000)).collect()[0][0]
    ev = ev.select("user_id", "event_type", "ts", "event_id")
    src = _two_file_fixture(
        "scd2_stream_src_",
        ev.filter(F.col("ts") < split_ts),
        ev.filter(F.col("ts") >= split_ts),
    )
    _SCD2_STREAM_FIXTURE[sf_dir] = src
    return src


@query(
    "user_scd2_stream",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events WHERE user_id < 20
    ),
    marked AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN prev_type IS NULL OR prev_type <> event_type THEN 1 ELSE 0 END AS chg
      FROM seq
    ),
    grp AS (
      SELECT user_id, event_type, ts,
             CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM marked
    )
    SELECT user_id, event_type AS state, island,
           MIN(ts) AS valid_from, MAX(ts) AS valid_to, COUNT(*) AS n_events
    FROM grp
    GROUP BY user_id, event_type, island
    ORDER BY user_id, valid_from
    """,
)
def user_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 state history maintained from a REAL stream
    (streaming/scd2_maintain): the user_id<20 event slice replays as
    two ts-ordered micro-batches through the recompute-bounded
    maintainer — net-new events absorb into key-hash bucket partitions
    (event_id anti-join = redelivery no-op), and only touched buckets'
    interval partitions rebuild per batch. The final served history is
    hash-checked against the SAME gaps-and-islands oracle as the batch
    twin user_state_intervals: stream == batch, through the store.

    Scale: per batch O(touched buckets' events) — an hour's CDC
    touches an hour's keys, not the table's history; serving reads are
    partition-pruned by the same bucket hash."""
    import tempfile

    from datagouv_tools_spark.streaming.scd2_maintain import (
        read_intervals,
        scd2_batch,
    )
    from datagouv_tools_spark.streaming.source import start_stream

    src = _scd2_stream_fixture(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="scd2_stream_")
    stream = (
        spark.readStream.schema(
            "user_id bigint, event_type string, ts timestamp_ntz,"
            " event_id bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/*")
    )
    q = start_stream(
        stream.writeStream.foreachBatch(
            lambda b, i: scd2_batch(
                b.sparkSession, b, f"{tmp}/base", f"{tmp}/intervals",
                n_buckets=8,
            )
        ).trigger(availableNow=True),
        f"{tmp}/ckpt",
    )
    q.awaitTermination()
    iv = read_intervals(spark, f"{tmp}/intervals")
    return iv.select(
        "user_id",
        F.col("event_type").alias("state"),
        "island",
        "valid_from",
        "valid_to",
        "n_events",
    ).orderBy("user_id", "valid_from")
