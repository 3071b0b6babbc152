"""PostgreSQL COPY fast path (SURVEY §2.2 K4, §4 conclusion).

Spark's JDBC writer only does batched INSERT; the reference's COPY FROM
STDIN is ~10× faster for bulk loads. The cluster-correct shape:

    df.mapInArrow(partition's record batches → Arrow CSV → COPY ...)

Each executor task opens its own connection and streams its partition
as CSV — the reference's "one connection per consumer thread"
(import_fantoir.py:242-249) generalized to N partitions. The rows never
become Python objects: Arrow's CSV writer renders each record batch in
PostgreSQL's CSV dialect (NULL unquoted and empty, ``''`` as ``""``,
doubled quotes, raw newlines inside quoted fields, ISO dates and
timestamps, exact decimals, round-trip floats with ``nan``/``inf``).
The two types it renders differently from COPY's input syntax are
projected JVM-side first (``_copy_columns``): bytea as ``\\x`` hex,
day-time intervals in the day-plus-time text the sink has always
stored. An empty partition opens no connection.

Driver dispatch: psycopg 3 (``cursor.copy()`` context) when present,
else pg8000 — the reference's own driver (reference setup.py) — whose
DB-API cursor streams COPY via ``execute(sql, stream=file_like)``,
else the ``psql`` CLI (``PsqlCliConnection``): the identical CSV byte
stream is piped to ``psql -c "COPY ... FROM STDIN"``'s stdin, one
subprocess per partition stream — for environments that ship the
PostgreSQL client binary but no Python driver. The transport runs the
client binary itself, not Debian's Perl ``pg_wrapper`` in front of it,
whenever the DSN pins the server (``_psql_binaries``): the wrapper costs
about 15 of the ~20 ms of CPU a psql process takes. It always passes
``-X``, so no ``psqlrc`` can add output to a captured result. The CSV
serialization, COPY statement text, and per-driver call sequences are
additionally unit-tested against mocked connections (the reference's
tests/sql/test_postgres.py pattern), and the whole load runs live in
``tests/test_schema.py::test_write_sql_table_copy_live_postgres``
against a real server (PGHOST, or one the tests start).

Connection strings are read and written here alone: ``_dsn_params``
parses either libpq form (a ``postgresql://`` URI or key=value text)
into keywords, and ``_conninfo`` renders keywords as key=value text.
psycopg takes the DSN as given; pg8000 takes arguments mapped from the
keywords (``_pg8000_kwargs``), and one it cannot honour raises. psql
runs with the ``_conninfo`` of all keywords but the password, which
travels in ``PGPASSWORD`` because argv is world-readable. The CLI
renders its ``-r pg --database`` DSN with ``_conninfo``.

Read leg: ``copy_out`` is the mirror of the write dispatch. It runs
``COPY (<query>) TO STDOUT (FORMAT csv)`` on an open connection, under
session settings that fix how dates, intervals and bytea are rendered,
and yields the server's bytes (psql CLI: the captured stdout; psycopg 3:
iterating ``cursor.copy``; pg8000: ``execute(sql, stream=<writable>)``).
``csv_batches`` decodes COPY-CSV bytes into Arrow record batches, so
the transport speaks one CSV dialect, through Arrow in both directions
(``csv_chunks`` writes it). ``sources/pg_read.py`` pulls each slice of
a distributed read through the two, and the psql cursor's row fetch
goes through them as well.

Transactionality at scale: per-partition COPY commits once per
partition, which loses the single commit point of the reference. So
``sinks/sink.write_sql_table`` never COPYs into the live table: its
``SqlSink`` loads ``<table>__staging``, indexes and analyzes it, and
swaps it in at its last commit (DROP the table, RENAME the staging
table and its indexes) — idempotent re-runs, no partial visibility,
and a failed partition leaves the old table as it was (SURVEY §7.4).
"""

from __future__ import annotations

import functools
import io
import itertools
import re
from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagouv_tools_spark.schema.ddl import PostgresDialect

__all__ = [
    "csv_chunks", "copy_partition", "copy_dataframe", "copy_out", "csv_batches",
]


def csv_chunks(batches) -> Iterator[bytes]:
    """COPY-CSV bytes (FORMAT CSV, no header — column order fixed by the
    batches' schema) of Arrow record batches, one chunk per batch.

    Framing is validated end-to-end by a second, non-Python parser:
    tests round-trip the exact streamed bytes through DuckDB's
    ``read_csv`` (tests/test_schema.py)."""
    import pyarrow as pa
    from pyarrow import csv

    options = csv.WriteOptions(include_header=False, quoting_style="needed")
    for batch in batches:
        sink = pa.BufferOutputStream()
        csv.write_csv(batch, sink, options)
        yield sink.getvalue().to_pybytes()


def _timedelta_text(col: Column) -> Column:
    """A day-time interval as Python's ``str(timedelta)`` (``-1 day,
    23:00:00``, ``2 days, 0:00:00.000500``): floored days, then a
    non-negative time of day. PostgreSQL reads it as the same interval,
    where Arrow would write bare microseconds, which it reads as
    seconds."""
    secs = col.cast(T.DayTimeIntervalType(3, 3)).cast("decimal(20,6)")
    days = F.floor(secs / 86400)
    t = secs - days * 86400
    micros = (t % 1 * 1_000_000).cast("int")
    return F.concat(
        F.when(days != 0, F.concat(days, F.when(F.abs(days) == 1, " day, ").otherwise(" days, ")))
        .otherwise(""),
        F.floor(t / 3600), F.lit(":"),
        F.lpad(F.floor(t / 60 % 60).cast("string"), 2, "0"), F.lit(":"),
        F.lpad(F.floor(t % 60).cast("string"), 2, "0"),
        F.when(micros != 0, F.concat(F.lit("."), F.lpad(micros.cast("string"), 6, "0")))
        .otherwise(""),
    )


def _copy_columns(schema: T.StructType) -> list[Column]:
    """The columns of ``schema`` as COPY reads them, named by position
    (COPY matches columns by order, and ``mapInArrow`` cannot take a
    name with a dot or backtick): bytea as ``\\x`` + hex (Arrow writes
    the raw bytes), day-time intervals as ``_timedelta_text``; every
    other type as Arrow's CSV writer renders it."""
    cols = []
    for i, f in enumerate(schema.fields):
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if isinstance(f.dataType, T.BinaryType):
            c = F.concat(F.lit("\\x"), F.hex(c))
        elif isinstance(f.dataType, T.DayTimeIntervalType):
            c = _timedelta_text(c)
        cols.append(c.alias(f"_{i}"))
    return cols


#: one ``keyword = value`` of a key=value DSN: the value single-quoted
#: or bare up to the next space, a backslash escaping the next character
_CONNINFO_PAIR = re.compile(r"(\w+)\s*=\s*(?:'((?:[^'\\]|\\.)*)'|((?!')(?:[^\s\\]|\\.)*))\s*", re.S)


def _dsn_params(dsn: str) -> dict[str, str]:
    r"""The libpq keywords of ``dsn``, in either of libpq's two forms,
    with their values decoded; an empty URI component is left out.

    >>> _dsn_params("postgresql://u:p%40ss@[::1]/db?port=5433")
    {'user': 'u', 'password': 'p@ss', 'host': '::1', 'dbname': 'db', 'port': '5433'}
    >>> _dsn_params(r"host = h password='top\'s ecret' dbname=db")
    {'host': 'h', 'password': "top's ecret", 'dbname': 'db'}
    """
    if not dsn.startswith(("postgresql://", "postgres://")):
        params, pos = {}, len(dsn) - len(dsn.lstrip())
        while pos < len(dsn):
            m = _CONNINFO_PAIR.match(dsn, pos)
            if m is None:
                # the offset, not the text: it may hold a password
                raise ValueError(f"malformed connection string at offset {pos}")
            value = m.group(2) if m.group(2) is not None else m.group(3)
            params[m.group(1)] = re.sub(r"\\(.)", r"\1", value, flags=re.S)
            pos = m.end()
        return params

    from urllib.parse import unquote

    rest, _, query = dsn.partition("://")[2].partition("?")
    netloc, _, dbname = rest.partition("/")
    userinfo, _, hostspec = netloc.rpartition("@")
    user, _, password = userinfo.partition(":")
    # libpq's host list: comma-separated ``host[:port]`` or ``[v6][:port]``
    specs = [re.match(r"(\[[^\]]*\]|[^:]*):?(.*)", spec).groups() for spec in hostspec.split(",")]
    uri = {
        "user": user, "password": password, "host": ",".join(h.strip("[]") for h, _ in specs),
        "port": ",".join(p for _, p in specs), "dbname": dbname,
    }
    params = {k: unquote(v) for k, v in uri.items() if v}
    for item in query.split("&") if query else ():
        key, eq, value = item.partition("=")
        if not eq:
            raise ValueError(f"connection URI parameter {unquote(key)!r} has no value")
        params[unquote(key)] = unquote(value)
    return params


def _conninfo(params: dict[str, str | None]) -> str:
    r"""``params`` as libpq key=value text, every value quoted; a None
    value is left out.

    >>> print(_conninfo({"host": "h", "user": None, "password": "it's \\"}))
    host='h' password='it\'s \\'
    """
    def quoted(value: str) -> str:
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"

    return " ".join(f"{k}={quoted(v)}" for k, v in params.items() if v is not None)


#: libpq keyword → the ``pg8000.dbapi.connect`` argument that takes it as it is
_PG8000_ARGS = {"user": "user", "password": "password", "dbname": "database",
                "application_name": "application_name"}


def _pg8000_kwargs(params: dict[str, str]) -> dict:
    """``pg8000.dbapi.connect`` arguments for the libpq keywords
    ``params``: a host that is a directory is a Unix socket's, and a
    keyword pg8000 cannot honour raises instead of being dropped."""
    kwargs, params = {}, dict(params)
    host, port = params.pop("host", ""), params.pop("port", "")
    if "," in host + port:
        raise ValueError("pg8000 cannot connect to a list of hosts or ports")
    if host.startswith("/"):
        kwargs["unix_sock"] = f"{host}/.s.PGSQL.{port or 5432}"
    else:
        if host:
            kwargs["host"] = host
        if port:
            kwargs["port"] = int(port)
    for key, value in params.items():
        if key not in _PG8000_ARGS:
            raise ValueError(f"pg8000 cannot honour the connection keyword {key!r}")
        kwargs[_PG8000_ARGS[key]] = value
    return kwargs


def _connect(dsn: str):
    try:
        import psycopg  # type: ignore[import-not-found]

        return psycopg.connect(dsn)
    except ImportError:
        pass
    try:
        import pg8000.dbapi  # type: ignore[import-not-found]

        return pg8000.dbapi.connect(**_pg8000_kwargs(_dsn_params(dsn)))
    except ImportError:
        pass
    if _psql_binaries():
        return PsqlCliConnection(dsn)
    raise ImportError(
        "PostgreSQL COPY fast path needs psycopg, pg8000, or the psql "
        "CLI on the executors; install one."
    )


#: where Debian's postgresql-client-<version> packages put their binaries
_PG_LIB = "/usr/lib/postgresql"


@functools.lru_cache(maxsize=None)
def _psql_binaries() -> tuple[str, str] | None:
    """``(psql, direct)``: the ``psql`` on PATH, and the binary to run
    for a DSN that pins its server — resolved once per process, None
    when there is no psql.

    On Debian, ``psql`` is a link to ``postgresql-common/pg_wrapper``,
    a Perl script that picks a cluster, may export ``PGHOST``,
    ``PGPORT`` and ``PGDATABASE`` defaults, and then always execs the
    newest ``<_PG_LIB>/<version>/bin/psql``. That binary is ``direct``;
    elsewhere ``direct`` is ``psql`` itself."""
    import glob
    import os
    import shutil

    psql = shutil.which("psql")
    if psql is None:
        return None
    if os.path.realpath(psql).endswith("/postgresql-common/pg_wrapper"):
        def version(path: str) -> list[int]:
            return [int(v) for v in path.split("/")[-3].split(".") if v.isdigit()]

        found = glob.glob(f"{_PG_LIB}/*/bin/psql")
        if found:
            return psql, max(found, key=version)
    return psql, psql


class PsqlCliCursor:
    """Cursor facade over the ``psql`` binary (see ``PsqlCliConnection``)."""

    #: statement kinds that return rows and must take the COPY-TO-STDOUT
    #: fetch path (anything else is queued as DDL/DML)
    _FETCH_PREFIXES = ("SELECT", "WITH", "VALUES", "SHOW", "TABLE")

    def __init__(self, conn: "PsqlCliConnection"):
        self._conn = conn
        self._rows: list[tuple] | None = None

    def execute(self, sql: str) -> None:
        s = sql.lstrip()
        first = s.split(None, 1)[0].upper() if s else ""
        if first in self._FETCH_PREFIXES:
            # lossless fetch path: the query's COPY-CSV, read by Arrow.
            # COPY's grammar only admits SELECT/VALUES/WITH, so SHOW
            # and TABLE are rewritten to their exact SELECT equivalents
            q = s.rstrip(";").rstrip()
            if first == "SHOW":
                setting = q.split(None, 1)[1].strip()
                q = f"SELECT current_setting('{setting}')"
            elif first == "TABLE":
                q = "SELECT * FROM " + q.split(None, 1)[1]
            # no output settings: values as the session renders them,
            # and SHOW reports the session's own setting
            body = b"".join(copy_out(self._conn, q, settings=()))
            columns = [f"c{i}" for i in range(_csv_width(body))]
            self._rows = [
                row
                for batch in csv_batches([body], columns)
                for row in zip(*(col.to_pylist() for col in batch.columns))
            ]
        else:
            # queue DDL/DML; conn.commit() flushes the whole batch in
            # ONE transaction (psql --single-transaction), so the swap
            # that ends SqlSink's staged load is atomic
            self._conn._pending.append(sql)
            self._rows = None

    def copy_stdin(self, copy_sql: str, chunks: Iterator[bytes]) -> None:
        self._conn._flush()
        self._conn._run_stdin(copy_sql, chunks)

    def copy_stdout(self, copy_sql: str, settings: Iterable[str]) -> bytes:
        """The whole ``COPY ... TO STDOUT`` output, run after
        ``settings`` in the same session: the binary has exited by the
        time it returns, so this transport buffers one stream."""
        self._conn._flush()
        sqls = (*settings, copy_sql)
        return self._conn._run(*(arg for sql in sqls for arg in ("-c", sql)), text=False)

    def fetchall(self) -> list[tuple]:
        if self._rows is None:
            # a queued DDL/DML statement produces no result set —
            # returning stale/empty rows here would hide misuse
            raise RuntimeError(
                "fetchall() after a queued (non-row-returning) statement; "
                "only SELECT/WITH/VALUES/SHOW/TABLE produce rows on the "
                "psql CLI transport"
            )
        return self._rows

    def close(self) -> None:
        pass


class PsqlCliConnection:
    """COPY transport over the ``psql`` CLI — no Python driver needed.

    Statements queue until ``commit()``, which replays them inside one
    ``psql --single-transaction`` invocation; COPY streams the chunk
    iterator straight into the subprocess's stdin. All the byte-level
    framing (``csv_chunks``, ``csv_batches``) is shared with the driver
    paths."""

    def __init__(self, dsn: str):
        # never put credentials in argv: process listings on shared
        # hosts expose every subprocess's arguments, and COPY spawns
        # one psql per partition. The password travels via PGPASSWORD
        # in the subprocess environment instead.
        params = _dsn_params(dsn)
        self._password = params.pop("password", None)
        self._conninfo = _conninfo(params)
        self._pending: list[str] = []
        psql, direct = _psql_binaries() or ("psql", "psql")
        # with host, port and dbname set and no service, no PGHOST,
        # PGPORT or PGDATABASE default can change the server
        pinned = all(params.get(k) for k in ("host", "port", "dbname"))
        self._psql = direct if pinned and "service" not in params else psql

    def _argv(self, *extra: str) -> list[str]:
        # -X: no psqlrc, whose settings (\timing, \set ECHO ...) would
        # print into a captured COPY stream
        return [self._psql, self._conninfo, "-X", "-v", "ON_ERROR_STOP=1", "-q", *extra]

    def _env(self) -> dict[str, str]:
        import os

        env = dict(os.environ)
        if self._password is not None:
            env["PGPASSWORD"] = self._password
        return env

    def _run(self, *args: str, text: bool = True):
        """Run one psql session with ``args`` (``-q`` keeps the command
        tags of its ``-c`` statements off stdout); return its stdout."""
        import subprocess

        res = subprocess.run(self._argv(*args), capture_output=True, text=text, env=self._env())
        if res.returncode:
            err = res.stderr if text else res.stderr.decode(errors="replace")
            raise RuntimeError(f"psql failed: {err.strip()}")
        return res.stdout

    def _run_stdin(self, copy_sql: str, chunks: Iterator[bytes]) -> None:
        import subprocess

        proc = subprocess.Popen(
            self._argv("-c", copy_sql),
            stdin=subprocess.PIPE,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
            env=self._env(),
        )
        assert proc.stdin is not None
        try:
            for chunk in chunks:
                proc.stdin.write(chunk)
        except Exception:
            proc.kill()
            proc.wait()
            raise
        _, err = proc.communicate()  # flushes + closes stdin, waits
        if proc.returncode:
            raise RuntimeError(f"psql COPY failed: {err.decode().strip()}")

    def _flush(self) -> None:
        if self._pending:
            sql = ";\n".join(s.rstrip(";") for s in self._pending)
            self._pending = []
            self._run("--single-transaction", "-c", sql)

    def cursor(self) -> PsqlCliCursor:
        return PsqlCliCursor(self)

    def commit(self) -> None:
        self._flush()

    def rollback(self) -> None:
        self._pending = []

    def close(self) -> None:
        self._flush()


class _ChunkStream(io.RawIOBase):
    """Read-only binary file over an iterator of byte chunks — what
    pg8000 consumes for COPY FROM STDIN (``execute(sql, stream=...)``)
    and what Arrow's CSV reader pulls a ``copy_out`` stream through,
    without ever joining the stream into one buffer."""

    def __init__(self, chunks: Iterator[bytes]):
        self._chunks = iter(chunks)
        self._buf = memoryview(b"")

    def readable(self) -> bool:  # pragma: no cover - io protocol
        return True

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            out = bytes(self._buf) + b"".join(self._chunks)
            self._buf = memoryview(b"")
            return out
        # the unread rest is a view, never re-copied per read: one
        # large chunk (the psql transport's whole slice) read in small
        # pieces would otherwise cost quadratic time
        if len(self._buf) < n:
            parts, size = [self._buf], len(self._buf)
            while size < n:
                try:
                    chunk = next(self._chunks)
                except StopIteration:
                    break
                parts.append(chunk)
                size += len(chunk)
            self._buf = memoryview(b"".join(parts))
        out, self._buf = bytes(self._buf[:n]), self._buf[n:]
        return out


def _copy_with_connection(conn, copy_sql: str, chunks: Iterator[bytes]) -> None:
    """Drive one COPY stream on an open connection, dispatching on the
    driver's COPY API (psql CLI stdin pipe; psycopg 3 ``cursor.copy``;
    pg8000 ``stream=``)."""
    cur = conn.cursor()
    try:
        if hasattr(cur, "copy_stdin"):  # psql CLI transport
            cur.copy_stdin(copy_sql, chunks)
        elif hasattr(cur, "copy"):  # psycopg 3
            with cur.copy(copy_sql) as copy:
                for chunk in chunks:
                    copy.write(chunk)
        else:  # pg8000 dbapi
            cur.execute(copy_sql, stream=_ChunkStream(chunks))
    finally:
        cur.close()


#: session settings ``copy_out`` applies before its COPY, so dates and
#: intervals come out as ISO and ``postgres`` text and bytea as ``\x``
#: hex whatever the server's defaults (Spark's casts parse ISO only)
_COPY_OUT_SETTINGS = (
    "SET DateStyle TO ISO",
    "SET IntervalStyle TO postgres",
    "SET bytea_output TO hex",
)


def copy_out(
    conn, query: str, settings: Iterable[str] = _COPY_OUT_SETTINGS
) -> Iterator[bytes]:
    """Yield the UTF-8 COPY-CSV bytes of ``query``'s rows (the dialect
    ``csv_batches`` reads) on an open connection, after ``settings``,
    dispatching like ``_copy_with_connection``: the psql CLI and pg8000
    hand back the whole stream at once, psycopg 3 yields it block by
    block as the server sends it."""
    copy_sql = f"COPY ({query}) TO STDOUT (FORMAT csv, ENCODING 'UTF8')"
    cur = conn.cursor()
    try:
        if hasattr(cur, "copy_stdout"):  # psql CLI transport
            yield cur.copy_stdout(copy_sql, settings)
            return
        for setting in settings:
            cur.execute(setting)
        if hasattr(cur, "copy"):  # psycopg 3
            with cur.copy(copy_sql) as copy:
                for block in copy:
                    yield bytes(block)
        else:  # pg8000 dbapi
            buf = io.BytesIO()
            cur.execute(copy_sql, stream=buf)
            yield buf.getvalue()
    finally:
        cur.close()


#: smallest Arrow CSV block ``csv_batches`` reads. A CSV row must fit
#: in one block, so on a transport that streams (psycopg 3) this is the
#: largest row, quoted and with bytea in hex, that a read can take
_CSV_BLOCK_BYTES = 16 << 20


def csv_batches(chunks: Iterable[bytes], columns: list[str]):
    """Decode PostgreSQL COPY-CSV byte chunks into Arrow record batches
    of string columns, one CSV block at a time (a psycopg 3 stream
    never sits in memory whole). PostgreSQL writes NULL as an unquoted
    empty field and ``''`` as ``""``; the convert options read exactly
    that back, and quoted fields may hold raw newlines. A one-column
    NULL is an empty line, so empty lines are rows, not skipped."""
    import pyarrow as pa
    from pyarrow import csv

    chunks = (c for c in chunks if c)
    first = next(chunks, None)
    if first is None:  # an empty slice is an empty CSV, which Arrow rejects
        return
    # the psql CLI and pg8000 hand over the whole slice as the first
    # chunk: read it as one block (Arrow's block size is an int32), so
    # no row of it can straddle two blocks
    block_size = min(max(len(first), _CSV_BLOCK_BYTES), (1 << 31) - 1)
    yield from csv.open_csv(
        _ChunkStream(itertools.chain([first], chunks)),
        read_options=csv.ReadOptions(column_names=columns, block_size=block_size),
        parse_options=csv.ParseOptions(
            newlines_in_values=True, ignore_empty_lines=False
        ),
        convert_options=csv.ConvertOptions(
            column_types={c: pa.string() for c in columns},
            strings_can_be_null=True,
            quoted_strings_can_be_null=False,
            null_values=[""],
        ),
    )


#: one COPY-CSV field: quoted (``""`` an escaped quote) or bare
_CSV_FIELD = re.compile(rb'"(?:[^"]|"")*"|[^,"\n]*')


def _csv_width(body: bytes) -> int:
    """Fields in the first record of a COPY-CSV ``body`` — the column
    count of a result whose columns the caller does not know.

    >>> _csv_width(b'1,"a,\\n""b",\\n2,x,y\\n')
    3
    >>> _csv_width(b"\\n")
    1
    """
    width, pos = 1, _CSV_FIELD.match(body).end()
    while body[pos : pos + 1] == b",":
        width, pos = width + 1, _CSV_FIELD.match(body, pos + 1).end()
    return width


def copy_partition(dsn: str, copy_sql: str, batches, connect=None) -> None:
    """Executor-side body: one connection, one COPY stream of the
    partition's Arrow record batches, one commit. A partition without
    rows opens no connection. ``connect`` is injectable for tests."""
    chunks = csv_chunks(b for b in batches if b.num_rows)
    first = next(chunks, None)
    if first is None:
        return
    conn = (connect or _connect)(dsn)
    try:
        _copy_with_connection(conn, copy_sql, itertools.chain([first], chunks))
        conn.commit()
    finally:
        conn.close()


def copy_dataframe(df: DataFrame, dsn: str, table: str, num_partitions: int | None = None) -> None:
    """Distributed COPY: every partition streams concurrently."""
    copy_sql = PostgresDialect().copy_from_csv(table, header=False)
    if num_partitions:
        df = df.repartition(num_partitions)

    def run(batches):
        copy_partition(dsn, copy_sql, batches)
        return iter(())

    # the output is empty: collect() only runs every partition's COPY
    df.select(_copy_columns(df.schema)).mapInArrow(run, "done boolean").collect()
