"""Sinks: where DataFrames leave the engine (SURVEY §2.2 K1-K11).

Design (mirrors the reference's provider/executor split, U6):

- ``SqlDialect`` (schema/ddl.py) renders SQL text.
- A ``StatementExecutor`` runs it: ``DryRunExecutor`` records the
  statements (K11 — the reference's FakeConnection re-expressed, and
  the test seam for golden-sequence tests); ``DbApiExecutor`` drives a
  real DB-API connection when one is available.
- ``SqlSink`` sequences the load the way the reference does
  (K1→K2→K3→load→K9→K8→K10): drop, create, truncate, bulk load, analyze,
  index-after-load, commit. On PostgreSQL it loads ``<table>__staging``
  and swaps it in at the last commit: readers see the old or the new
  table, never an empty or partial one.
- ``write_sql_table`` is the one entry point the import pipelines and
  the CLI load through: it picks the executor (dry run or a live
  connection, opened from a PostgreSQL ``dsn`` over whichever transport
  ``pg_copy._connect`` finds — psycopg, pg8000 or the ``psql`` CLI)
  and the loader (the distributed COPY of sinks/pg_copy.py, or batched
  INSERTs), and owns the lifetime of any connection it opens.
"""

from __future__ import annotations

import contextlib
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from datagouv_tools_spark.schema.ddl import (
    EmptyIndexProvider,
    IndexProvider,
    PostgresDialect,
    SqlDialect,
    get_dialect,
)
from datagouv_tools_spark.sinks import pg_copy

__all__ = [
    "StatementExecutor",
    "DryRunExecutor",
    "DbApiExecutor",
    "SqlSink",
    "ParquetSink",
    "BucketedTableSink",
    "dbapi_insert_loader",
    "write_sql_table",
]


class StatementExecutor:
    """Executes rendered SQL statements (U6 executor half)."""

    def execute(self, statement: str) -> None:
        raise NotImplementedError

    def commit(self) -> None:
        raise NotImplementedError

    def rollback(self) -> None:
        """Abort the open transaction (nothing to abort by default)."""


@dataclass
class DryRunExecutor(StatementExecutor):
    """Records statements instead of executing (K11). The golden-
    sequence tests assert on ``statements`` exactly as the reference's
    FakeConnection tests assert on logged SQL."""

    statements: list[str] = field(default_factory=list)

    def execute(self, statement: str) -> None:
        self.statements.append(statement)

    def commit(self) -> None:
        self.statements.append("COMMIT")


@dataclass
class DbApiExecutor(StatementExecutor):
    """Thin adapter over a live DB-API v2 connection."""

    connection: object

    def execute(self, statement: str) -> None:
        cursor = self.connection.cursor()
        try:
            cursor.execute(statement)
        finally:
            cursor.close()

    def commit(self) -> None:
        self.connection.commit()

    def rollback(self) -> None:
        self.connection.rollback()


@dataclass
class SqlSink:
    """Schema-aware SQL sink with the reference's load sequence.

    ``write(df, table)``:
      1. DROP TABLE IF EXISTS / CREATE TABLE (aligned, commented DDL)
      2. TRUNCATE (dialects that separate create/empty)
      3. data load — ``loader`` callback (COPY fast path, batched
         INSERTs, or dry-run no-op)
      4. ANALYZE (dialects that collect stats)
      5. CREATE INDEX (after load — bulk-load optimization kept)
      6. COMMIT

    With a ``staged_load`` dialect (PostgreSQL) steps 1-5 target
    ``<table>__staging`` and step 6 first swaps it in (``swap_in``), so
    the old table is locked only for the swap. A failed load drops the
    staging table and leaves ``table`` as it was."""

    dialect: SqlDialect
    executor: StatementExecutor
    index_provider: IndexProvider = field(default_factory=EmptyIndexProvider)
    loader: Callable[[DataFrame, str], None] | None = None

    def write(self, df: DataFrame, table: str, schema: T.StructType | None = None) -> None:
        schema = schema or df.schema
        dialect, executor = self.dialect, self.executor
        target = f"{table}__staging" if dialect.staged_load else table
        # indices come from the final name (SireneIndexProvider keys its
        # extras by it) and are built on the load target
        indices = self.index_provider.get_indices(table, schema)
        built = [replace(index, table_name=target) for index in indices]

        def run(*statements: str | None) -> None:
            for statement in filter(None, statements):  # None: no such step here
                executor.execute(statement)

        try:
            run(dialect.drop_table(target), dialect.create_table(target, schema))
            run(dialect.truncate(target))
            executor.commit()
            if self.loader is not None:
                self.loader(df, target)
            else:  # dry run: record the bulk-load statement that would run
                run(dialect.copy_from_csv(target))
            run(dialect.analyze(target))
            executor.commit()
            for index in built:  # a fresh staging table has no index to drop
                drop = dialect.drop_index(index) if target == table else None
                run(drop, dialect.create_index(index))
            if target != table:
                run(*dialect.swap_in(target, table, zip(built, indices)))
            executor.commit()
        except Exception:
            if target != table:
                # best effort: the load's own error is the one raised, and
                # the next load drops a leftover staging table first
                with contextlib.suppress(Exception):
                    executor.rollback()
                    run(dialect.drop_table(target))
                    executor.commit()
            raise


def dbapi_insert_loader(connection, dialect: SqlDialect, batch_size: int = 10_000):
    """K6 row-insert fallback over a live DB-API v2 connection
    (sqlite3, pg8000, ...): batched ``executemany`` of the dialect's
    parameterized INSERT — the reference's insert_all/executemany path
    (sql/sqlite.py:58-68).

    Scale note: rows stream through the driver via ``toLocalIterator``
    one partition at a time (never a full collect), but a single DB
    connection is still a funnel — at cluster scale use the COPY fast
    path; this loader exists for serverless DBs (sqlite) and modest
    reference-parity loads."""

    import datetime
    import decimal

    def coerce(v):
        # DB-API drivers disagree on rich types (sqlite3 deprecated its
        # date adapters; Decimal is unsupported there): ship ISO/decimal
        # strings, which every server parses into the typed column.
        if isinstance(v, (datetime.date, datetime.datetime, decimal.Decimal)):
            return str(v)
        return v

    def load(df: DataFrame, table: str) -> None:
        stmt = dialect.insert_statement(table, df.schema)
        cursor = connection.cursor()
        try:
            batch: list[tuple] = []
            for row in df.toLocalIterator():
                batch.append(tuple(coerce(v) for v in row))
                if len(batch) >= batch_size:
                    cursor.executemany(stmt, batch)
                    batch = []
            if batch:
                cursor.executemany(stmt, batch)
        finally:
            cursor.close()
        connection.commit()

    return load


def write_sql_table(
    df: DataFrame,
    table: str,
    rdbms: str,
    index_provider: IndexProvider,
    connection=None,
    dsn: str | None = None,
    bulk_copy: bool = True,
) -> list[str] | None:
    """Load ``df`` into ``table`` through ``SqlSink`` — the import
    pipelines' one SQL sink step (the reference's connection-or-fake
    and ``bulk_copy`` dispatch):

    - neither ``connection`` nor ``dsn``: dry run; returns the rendered
      statements (K11).
    - ``dsn`` (PostgreSQL only): DDL runs over a connection opened from
      it and closed on return; ``bulk_copy=True`` loads through the
      distributed COPY fast path (``pg_copy.copy_dataframe``), else by
      batched INSERTs, which need a DB-API driver (psycopg, pg8000).
    - ``connection``: batched INSERTs over it; the caller keeps and
      closes it.

    The loader is chosen before any DDL runs, so a load that cannot run
    raises with the existing table untouched. On PostgreSQL every load
    fills a staging table and swaps it in (``SqlSink``), so a load that
    fails mid-way also leaves it untouched. Returns None after a live
    load."""
    dialect = get_dialect(rdbms)
    if dsn is not None and not isinstance(dialect, PostgresDialect):
        # silently ignoring the DSN would fall back to a dry-run sink
        # that prints SQL and exits 0 — loud failure instead
        raise ValueError(
            f"--dsn is only supported for rdbms 'pg' (got {rdbms!r}); "
            f"pass a DB-API connection for other databases"
        )
    if connection is None and dsn is None:
        executor = DryRunExecutor()
        SqlSink(dialect, executor, index_provider).write(df, table)
        return executor.statements
    owned = connection is None
    if owned:
        connection = pg_copy._connect(dsn)
    try:
        if dsn is not None and bulk_copy:
            loader = lambda d, t: pg_copy.copy_dataframe(d, dsn, t)  # noqa: E731
        elif isinstance(connection, pg_copy.PsqlCliConnection):
            raise ValueError(
                "bulk_copy=False loads by DB-API executemany, which the psql "
                "CLI transport cannot run; install psycopg or pg8000, or "
                "load with bulk_copy=True"
            )
        else:
            loader = dbapi_insert_loader(connection, dialect)
        SqlSink(dialect, DbApiExecutor(connection), index_provider, loader).write(df, table)
    finally:
        if owned:
            connection.close()
    return None


@dataclass
class ParquetSink:
    """Lake-native sink: the 100 TB default. Partitioned parquet +
    optional bucketing; RDBMS loading then becomes a partition-parallel
    COPY from staged files.

    ``range_by`` range-partitions + sorts rows by the given columns
    before writing, so each output file covers a DISJOINT value range
    and its parquet min/max statistics prune whole files for range
    predicates — the second layout lever next to directory partitioning
    (``partition_by`` prunes directories; ``range_by`` prunes files and
    row groups within the scan).

    ``fmt`` selects the lake format through ``sources.formats`` —
    "parquet" (default) or "orc" keep the identical pushdown/pruning
    plan properties (both are DataSource scans with min/max stats);
    json/csv are accepted for interchange staging but inherit that
    module's representability guards."""

    base_path: str
    partition_by: tuple[str, ...] = ()
    range_by: tuple[str, ...] = ()
    range_partitions: int | None = None
    fmt: str = "parquet"

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> str:
        from datagouv_tools_spark.sources.formats import write_table

        path = f"{self.base_path.rstrip('/')}/{table}"
        if self.range_by:
            cols = [df[c] for c in self.range_by]
            if self.range_partitions:
                df = df.repartitionByRange(self.range_partitions, *cols)
            else:
                df = df.repartitionByRange(*cols)
            df = df.sortWithinPartitions(*self.range_by)
        write_table(
            df,
            path,
            fmt=self.fmt,
            mode=mode,
            partition_by=list(self.partition_by) or None,
        )
        return path


@dataclass
class BucketedTableSink:
    """Bucketed managed tables: pre-shuffle ONCE at write time so every
    later equi-join/agg on the bucket key plans with zero exchanges —
    the 100 TB answer to a fact⋈fact join that would otherwise shuffle
    both sides every query. Requires saveAsTable (bucket metadata lives
    in the metastore); tests assert the no-exchange plan property.
    """

    n_buckets: int
    bucket_cols: tuple[str, ...]
    sort_cols: tuple[str, ...] = ()
    base_path: str | None = None  # external table location; default = warehouse dir

    def write(self, df: DataFrame, table: str, mode: str = "overwrite") -> None:
        writer = df.write.mode(mode).bucketBy(self.n_buckets, *self.bucket_cols)
        if self.sort_cols:
            writer = writer.sortBy(*self.sort_cols)
        if self.base_path:
            writer = writer.option("path", f"{self.base_path.rstrip('/')}/{table}")
        writer.saveAsTable(table)


def compact_parquet(
    spark,
    path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> tuple[int, int]:
    """Small-files compaction — the standing maintenance job of any
    100 TB parquet lake (streaming sinks and over-parallel writes leave
    thousands of KB-sized files; scan cost is then dominated by file
    open/footer overhead, not bytes).

    Sizes the output by BYTES, not file count: reads the source file
    sizes through the Hadoop FileSystem API, targets
    ``ceil(total / target_file_bytes)`` output files, and rewrites with
    a round-robin repartition (even sizes, no skew from partition
    residue). Writes to ``out_path`` — swapping directories atomically
    is the caller's move (the staging pattern ``SqlSink`` uses for
    PostgreSQL tables).

    Returns (n_files_before, n_files_after).
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    src = jvm.org.apache.hadoop.fs.Path(path)
    fs = src.getFileSystem(conf)
    listed = list(fs.listStatus(src))
    subdirs = [
        s.getPath().getName()
        for s in listed
        if s.isDirectory() and not s.getPath().getName().startswith("_")
    ]
    if subdirs:
        # a partitioned dataset: compacting the root would both misread
        # total bytes (directories aren't files) and rewrite partition
        # columns into data columns, destroying directory pruning.
        # Compaction granularity IS the partition directory.
        raise ValueError(
            f"{path} contains partition directories ({subdirs[:3]}...); "
            "compact each partition directory individually"
        )
    statuses = [
        s for s in listed
        if s.isFile() and not s.getPath().getName().startswith("_")
    ]
    n_before = len(statuses)
    total = sum(s.getLen() for s in statuses)
    n_out = max(1, -(-total // target_file_bytes))

    df = spark.read.parquet(path)
    df.repartition(int(n_out)).write.mode("overwrite").parquet(out_path)

    out = jvm.org.apache.hadoop.fs.Path(out_path)
    n_after = len(
        [
            s for s in fs.listStatus(out)
            if s.isFile() and s.getPath().getName().endswith(".parquet")
        ]
    )
    return n_before, n_after
