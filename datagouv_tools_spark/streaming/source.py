"""Streaming source + sink helpers for the events table.

``read_events_stream`` is the ``readStream`` twin of
``sources.catalog.load_table(..., "events")``: same nanos-as-long
parquet quirk, same long→timestamp_ntz normalization, but through the
file-stream source so every downstream operator sees a genuinely
streaming DataFrame (micro-batched by file, ``maxFilesPerTrigger``).

``run_to_memory`` drives any streaming DataFrame to completion with an
``availableNow`` trigger into a memory sink — bounded-input replay, the
test/oracle harness for streaming operators. At 100 TB the same
pipelines write to kafka/parquet sinks with ``processingTime``
triggers; only this runner is test-only.

``start_stream`` is the one place the engine starts a stream. It picks
the checkpoint manager by the checkpoint's filesystem: a local
(``file:``) checkpoint uses Hadoop's FileSystem-API manager, whose
log-file commit is one ``rename(2)``, while every other scheme (hdfs,
s3a, abfs, a non-local ``fs.defaultFS``) keeps Spark's default
FileContext manager. Without the native Hadoop library, the default
manager forks ``readlink`` on every local rename and ``chmod`` on
every create; those forks were a quarter of a small replay's CPU.
Both managers write a temp file, rename it and keep ``.crc`` files,
so a checkpoint written by either resumes under the other.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import uuid

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

__all__ = [
    "events_raw_schema",
    "read_events_stream",
    "run_to_memory",
    "start_stream",
]


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """True when events.parquet stores ts as TIMESTAMP(NANOS) (readable
    only as int64 via ``nanosAsLong``) or as a raw int64.

    The testdata generator has shipped both nanosecond and microsecond
    encodings across rounds; a one-footer driver-side sniff keeps the
    stream schema in lockstep with whatever is on disk, mirroring the
    batch catalog's dtype-driven normalization
    (sources/catalog.py:_normalize_nanos_timestamps).
    """
    import pyarrow.parquet as pq

    try:
        ts_type = (
            pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
        )
    except Exception:
        # pyarrow only probes LOCAL paths; for hdfs://, s3a://, etc.
        # (which the Spark reader itself accepts) default to the nanos
        # encoding the testdata generator ships — callers on remote
        # filesystems with microsecond timestamps can pass the schema
        # explicitly via events_raw_schema(nanos=False)
        return True
    return getattr(ts_type, "unit", None) == "ns" or str(ts_type) == "int64"


def events_raw_schema(nanos: bool) -> StructType:
    """events.parquet as the file-stream source must declare it (file
    streams require an explicit schema): ts is raw int64
    epoch-nanoseconds under ``nanosAsLong``, a plain timestamp
    otherwise."""
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", LongType() if nanos else TimestampType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    nanos = _events_ts_is_nanos(sf_dir)
    raw = (
        spark.readStream.schema(events_raw_schema(nanos))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # the file-stream source requires a directory path; the glob
        # filter selects just the events file out of the shared sf_dir
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if not nanos:
        return raw
    # TimestampType (not NTZ: watermarks require it); session tz is UTC
    # above, so wall-clock values equal the batch catalog's NTZ ones.
    micros = F.expr("ts div 1000").cast("long")
    return raw.withColumn("ts", F.timestamp_micros(micros))


#: Auto-sizing targets: one state partition per this many source bytes
#: (stateful work — especially Python applyInPandasWithState — scales
#: with rows, and parquet bytes are the cheap row proxy), floored at 2
#: (per-partition store open/commit is the dominant cost of a tiny
#: replay) and capped well under the core count (stream-stream joins
#: keep FOUR stores per partition).
_STATE_AUTO_TARGET_BYTES = 256 << 10
_STATE_AUTO_MAX = 16


def _analyzed_plan_string(df: DataFrame) -> str | None:
    """One py4j render of the analyzed plan — the sizing helpers below
    share it instead of each paying the toString round-trip."""
    try:
        return df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None


def _stream_source_bytes(
    df: DataFrame, plan: str | None = None
) -> int | None:
    """Sum the on-disk bytes of ``df``'s file-stream sources, read off
    the analyzed plan's DataSource option maps (path + pathGlobFilter).
    None when the stream has no file source (rate/memory test streams),
    when any source is non-local (s3://, hdfs:// — os.path can't stat
    them, and guessing 0 would mis-size real remote replays), or when
    the plan shape is unexpected — callers then fall back to the
    small-replay default. Local-filesystem-only by design. Pass a
    pre-rendered ``plan`` string to skip the py4j render."""
    import fnmatch
    import glob as globmod
    import os
    import re

    s = plan if plan is not None else _analyzed_plan_string(df)
    if s is None:
        return None
    total, found = 0, False
    for m in re.finditer(r"Map\(([^()]*)\)", s):
        kv = {}
        for part in m.group(1).split(", "):
            k, sep, v = part.partition(" -> ")
            if sep:
                kv[k.strip()] = v.strip()
        path = kv.get("path")
        if not path:
            continue
        # LIMITATION: this reads the option map back out of the plan's
        # toString, which mis-splits paths containing ', ' or parens,
        # and can only stat LOCAL files. A non-local source (s3://,
        # hdfs://) must report "unknown" (None) — a 0 would silently
        # size every real remote replay at the minimal 2 partitions.
        if re.match(r"^[a-z][a-z0-9+.-]*://", path) and not path.startswith(
            "file:"
        ):
            return None
        found = True
        # the plan may render a local path with a URI scheme
        path = re.sub(r"^file:(//)?", "", path)
        if os.path.isdir(path):
            # recursive: partitioned sources keep their files one or
            # more directory levels down, and pathGlobFilter matches
            # file NAMES at any depth (Spark's semantics)
            pat = kv.get("pathGlobFilter", "*")
            for root, _dirs, files in os.walk(path):
                for fname in files:
                    if fnmatch.fnmatch(fname, pat):
                        try:
                            total += os.path.getsize(
                                os.path.join(root, fname)
                            )
                        except OSError:
                            pass
        else:
            for f in globmod.glob(path):
                try:
                    total += os.path.getsize(f)
                except OSError:
                    pass
    return total if found else None


def _has_stream_stream_join(df: DataFrame) -> bool:
    """True iff the analyzed plan contains a Join whose BOTH subtrees
    read a streaming source — the symmetric-hash shape that keeps four
    state stores per partition. Walks the py4j logical plan and uses
    ``LogicalPlan.isStreaming`` (true when the subtree contains a
    streaming leaf), so a UNION of two file streams feeding one
    stateful aggregate — two streaming relations, ONE store per
    partition — does not match, and the check survives node-name
    variants like StreamingRelationV2 (ADVICE r9; replaces a rendered
    plan substring count)."""
    try:
        root = df._jdf.queryExecution().analyzed()
        stack = [root]
        while stack:
            n = stack.pop()
            ch = n.children()
            kids = [ch.apply(i) for i in range(ch.length())]
            if (
                n.nodeName() == "Join"
                and len(kids) == 2
                and kids[0].isStreaming()
                and kids[1].isStreaming()
            ):
                return True
            stack.extend(kids)
        return False
    except Exception:  # pragma: no cover - py4j walk robustness
        # Fall back to the pre-r10 rendered-plan heuristic instead of
        # silently disabling the ÷4 stream-stream state sizing (ADVICE
        # r10): py4j API drift here is a perf signal, not a crash.
        import warnings

        warnings.warn(
            "py4j logical-plan walk failed in _has_stream_stream_join; "
            "falling back to rendered-plan StreamingRelation count",
            RuntimeWarning,
            stacklevel=2,
        )
        try:
            rendered = df._jdf.queryExecution().analyzed().toString()
            return rendered.count("StreamingRelation") >= 2
        except Exception:
            return False


def auto_state_partitions(df: DataFrame) -> int:
    """Size a bounded replay's state-store partition count from its
    file sources: ceil(bytes / 256 KiB) clamped to [2, 16]. Measured on
    this box (events stream, applyInPandasWithState user totals): sf0.001
    (27 KiB -> 2) keeps the fixed per-store open/commit cost minimal,
    while sf0.1 (2 MiB -> 8) halves the replay vs 2 partitions (4.0 s ->
    2.0-2.6 s) because Python-state work parallelizes per partition.

    Multi-stream plans (stream-stream joins) get a QUARTER of the
    byte-sized count: the symmetric-hash join keeps FOUR state stores
    per partition (vs one for a single-stream aggregate) and its
    per-row work is JVM-side, so the byte target is really a
    bytes-per-STORE budget — per-store open/commit dominates long
    before per-partition parallelism pays. Measured order-controlled
    at sf0.1 (this box, r9): the two-stream interval joins run
    2.8-4.0 s at 2-4 partitions vs 6.4-20 s at 8."""
    b = _stream_source_bytes(df)
    if not b:
        return 2
    n = -(-b // _STATE_AUTO_TARGET_BYTES)
    if _has_stream_stream_join(df):
        n = n // 4
    return max(2, min(_STATE_AUTO_MAX, n))


def run_to_memory(
    df: DataFrame,
    output_mode: str = "complete",
    name: str | None = None,
    state_partitions: int | str | None = "auto",
) -> DataFrame:
    """Replay a bounded stream to its final result (availableNow →
    memory sink), return the result as a static DataFrame.

    ``complete`` mode emits final window/session aggregates regardless
    of the end-of-input watermark; use ``append`` to observe
    watermark-gated emission instead.

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    stream's state stores (captured at first start, immutable for the
    checkpoint's lifetime; :func:`start_stream` sets it for the
    ``start()`` call only, so the session keeps its own value): a fresh
    bounded replay doesn't need one state store per session core —
    every state-store instance costs a per-batch open/commit, and
    stream-stream joins keep FOUR stores per partition — but starving
    a stateful operator of partitions serializes its (often
    Python-side) per-row work. The default
    ``"auto"`` sizes from the source's file bytes
    (:func:`auto_state_partitions`): tiny test replays get the minimal
    2, data-bearing replays fan out. Pass an int to pin, or None to
    inherit the session setting (what a long-lived production stream
    would size explicitly).
    """
    name = name or f"mem_{uuid.uuid4().hex[:12]}"
    spark = df.sparkSession
    if isinstance(state_partitions, str):
        # "auto" is the only string sentinel — anything else would fall
        # through to spark.conf.set and surface later as an opaque
        # NumberFormatException inside the stream
        if state_partitions != "auto":
            raise ValueError(
                "state_partitions must be an int, None, or 'auto'; got "
                f"{state_partitions!r}"
            )
        state_partitions = auto_state_partitions(df)
    q = start_stream(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True),
        state_partitions=state_partitions,
    )
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return spark.table(name)


_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
#: Hadoop FileSystem-API checkpoint manager: Spark 4.1 moved it into
#: the ``checkpointing`` package, and Spark rejects a start whose
#: manager class it cannot load, so the first loadable name wins.
_FS_MANAGER_CLASSES = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager",
    "org.apache.spark.sql.execution.streaming."
    "FileSystemBasedCheckpointFileManager",
)
#: Serializes start windows: the overrides are session-global, and two
#: interleaved save/restore pairs would leave one thread's value set.
_START_LOCK = threading.Lock()


@functools.cache
def _fs_manager_class() -> str | None:
    """The FileSystem manager name the gateway JVM loads, or None. Asked
    once per process: the gateway JVM outlives its SparkContexts."""
    utils = SparkContext._jvm.org.apache.spark.util.Utils
    return next((c for c in _FS_MANAGER_CLASSES if utils.classIsLoadable(c)), None)


def _uri_scheme(path: str) -> str | None:
    """Scheme of a Hadoop path string: the text before a ``:`` that
    comes before any ``/`` (``Path``'s rule), lower-cased."""
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*):", path)
    return m.group(1).lower() if m else None


def _checkpoint_scheme(
    checkpoint: str | None, session_root: str | None, default_fs: str | None
) -> str:
    """Filesystem scheme of the checkpoint a starting query will use:
    the explicit ``checkpoint``, else one under the session's
    ``spark.sql.streaming.checkpointLocation`` root, else Spark's local
    temp dir. A scheme-less path (the temp dir is one) resolves against
    ``fs.defaultFS``, as Hadoop resolves a ``Path``."""
    path = checkpoint or session_root
    return (path and _uri_scheme(path)) or _uri_scheme(default_fs or "") or "file"


def _checkpoint_manager(spark: SparkSession, checkpoint: str | None) -> str | None:
    """The manager class :func:`start_stream` sets, or None to leave the
    session's choice alone: a manager the caller set stays, and only a
    ``file`` checkpoint gets the FileSystem manager."""
    conf = spark.conf
    if conf.get(_MANAGER_KEY, None) is not None:
        return None
    default_fs = spark._jsparkSession.sessionState().newHadoopConf().get("fs.defaultFS")
    root = conf.get("spark.sql.streaming.checkpointLocation", None)
    if _checkpoint_scheme(checkpoint, root, default_fs) != "file":
        return None
    return _fs_manager_class()


def start_stream(
    writer: DataStreamWriter,
    checkpoint: str | None = None,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Start ``writer``'s query with the checkpoint manager its
    checkpoint's filesystem calls for (module docstring).

    ``checkpoint`` becomes the ``checkpointLocation`` option; without
    one the query checkpoints under the session root or a temp dir.
    ``state_partitions``, when given, pins
    ``spark.sql.shuffle.partitions`` for the query's state.

    Both overrides hold for the ``start()`` call only, inside one
    process-wide lock, and the session's own values come back after
    it: the query keeps them for its whole life because
    ``StreamExecution`` clones the session at start. The window never
    covers ``awaitTermination()``, so a batch body may start a stream
    of its own."""
    spark = writer._spark
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    with _START_LOCK:
        overrides = {}
        if state_partitions is not None:
            overrides[_SHUFFLE_KEY] = str(state_partitions)
        manager = _checkpoint_manager(spark, checkpoint)
        if manager is not None:
            overrides[_MANAGER_KEY] = manager
        conf = spark.conf
        saved = {k: conf.get(k, None) for k in overrides}
        for k, v in overrides.items():
            conf.set(k, v)
        try:
            return writer.start()
        finally:
            for k, v in saved.items():
                if v is None:
                    conf.unset(k)
                else:
                    conf.set(k, v)
