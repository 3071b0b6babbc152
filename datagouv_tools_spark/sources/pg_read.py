"""Distributed PostgreSQL read over COPY TO STDOUT (the read half of
the north-star "JDBC read + transform + PostgreSQL write" loop).

The reference reads its RDBMS through one DB-API cursor on one
connection (reference ``dg_tools_script.py:49-57``). ``sources/jdbc.py``
maps that to Spark's built-in partitioned JDBC source, but this
container (like many Python-only deployments) has no JDBC driver jar —
so this module implements the same partitioned-pull architecture
directly over the DB-API/psql transports that ``sinks/pg_copy.py``
already dispatches:

- the DRIVER opens one connection to read ``information_schema.columns``
  (schema inference) and, when bounds aren't given, one ``MIN/MAX``
  aggregate over the partition column — O(1) rows either way;
- each EXECUTOR task opens its own connection and pulls exactly one
  key-range slice with ``COPY (SELECT <cols> FROM <table> WHERE <pred>
  AND <slice>) TO STDOUT`` — the same slice grammar Spark's JDBC source
  generates (first slice takes ``IS NULL``, bounds don't filter, they
  only shape the ranges);
- projection and predicates are pushed INTO the per-slice SQL, so the
  server never ships unrequested columns or rows (source-side pushdown,
  not post-scan filtering);
- the slice index that drives those tasks is a JVM ``Range`` with one
  partition per slice, so a read runs one Python task per slice and no
  other Python work;
- values cross into Spark as COPY-CSV bytes decoded by Arrow
  (``pg_copy.copy_out`` and ``pg_copy.csv_batches``, every column a
  string) and are cast to the inferred schema JVM-side (``Column.cast``
  inside codegen), keeping the Python boundary a thin byte shuttle.
  The COPY runs with ISO DateStyle, ``postgres`` IntervalStyle and hex
  bytea_output, so the text does not depend on server defaults. On a
  streaming transport (psycopg 3) one row may be at most 16 MiB of CSV;
  the psql CLI and pg8000 buffer a whole slice and decode it as one
  block (up to 2 GiB), so their rows can be as large as the slice.

At cluster scale this is N executors each holding one server
connection — size ``num_partitions`` to what the server's
``max_connections`` tolerates, not to the executor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["pg_table_schema", "slice_predicates", "read_pg_parallel"]


#: information_schema.data_type → Spark type. bytea deliberately maps to
#: StringType (COPY's hex form ``\x…``) — decode with F.unhex at the
#: call site if raw bytes are needed.
_PG_TO_SPARK: dict[str, T.DataType] = {
    "smallint": T.ShortType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "real": T.FloatType(),
    "double precision": T.DoubleType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp without time zone": T.TimestampNTZType(),
    "timestamp with time zone": T.TimestampType(),
    "text": T.StringType(),
    "character varying": T.StringType(),
    "character": T.StringType(),
    "bytea": T.StringType(),
}


def _quote_ident(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _fetchall(dsn: str, sql: str) -> list[tuple]:
    """The rows of one driver-side query, on a connection of its own."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    conn = _connect(dsn)
    try:
        cur = conn.cursor()
        cur.execute(sql)
        return cur.fetchall()
    finally:
        conn.close()


def pg_table_schema(dsn: str, table: str) -> T.StructType:
    """Infer a Spark schema for a PostgreSQL table from
    ``information_schema.columns`` (driver-side, one catalog query)."""
    lit = table.replace("'", "''")
    rows = _fetchall(
        dsn,
        "SELECT column_name, data_type, numeric_precision, numeric_scale"
        " FROM information_schema.columns"
        f" WHERE table_name = '{lit}' AND table_schema = 'public'"
        " ORDER BY ordinal_position",
    )
    if not rows:
        raise ValueError(f"table {table!r} not found in PostgreSQL catalog")
    fields = []
    for name, data_type, prec, scale in rows:
        if data_type == "numeric":
            p = int(prec) if prec is not None else 38
            s = int(scale) if scale is not None else 18
            dt: T.DataType = T.DecimalType(p, s)
        else:
            dt = _PG_TO_SPARK.get(data_type, T.StringType())
        fields.append(T.StructField(str(name), dt, nullable=True))
    return T.StructType(fields)


def slice_predicates(
    partition_column: str, lower: int, upper: int, num_partitions: int
) -> list[str]:
    """Spark-JDBC-compatible range slices: ``num_partitions`` WHERE
    clauses that tile the integer line. Bounds don't filter — rows below
    ``lower`` land in the first slice (which also takes NULL keys) and
    rows at/above ``upper`` land in the last — so rough MIN/MAX bounds
    can never drop rows.

    >>> slice_predicates("k", 0, 10, 3)
    ['"k" < 4 OR "k" IS NULL', '"k" >= 4 AND "k" < 7', '"k" >= 7']
    >>> slice_predicates("k", 0, 10, 1)
    ['TRUE']
    """
    if num_partitions <= 1:
        return ["TRUE"]
    q = _quote_ident(partition_column)
    span = upper - lower
    stride = max(1, (span + num_partitions - 1) // num_partitions)
    bounds = [lower + stride * i for i in range(1, num_partitions)]
    bounds = [b for b in bounds if b < upper]
    if not bounds:
        return ["TRUE"]
    preds = [f"{q} < {bounds[0]} OR {q} IS NULL"]
    for lo, hi in zip(bounds, bounds[1:]):
        preds.append(f"{q} >= {lo} AND {q} < {hi}")
    preds.append(f"{q} >= {bounds[-1]}")
    return preds


def _fetch_slice_sql(table: str, columns: list[str], predicate: str | None) -> str:
    cols = ", ".join(_quote_ident(c) for c in columns)
    sql = f"SELECT {cols} FROM {_quote_ident(table)}"
    if predicate:
        sql += f" WHERE {predicate}"
    return sql


def read_pg_parallel(
    spark: SparkSession,
    dsn: str,
    table: str,
    *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    columns: list[str] | None = None,
    predicate: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a PostgreSQL table as a DataFrame with executor-parallel
    key-range pulls (see module docstring).

    Without ``partition_column`` the read is a single slice on one
    executor — correct but a funnel; always partition tables that
    matter. ``columns``/``predicate`` are pushed into the per-slice SQL
    server-side. ``schema`` overrides inference (it must match the
    projected column list in order and count).
    """
    if schema is None:
        full = pg_table_schema(dsn, table)
        if columns is None:
            schema = full
        else:
            by_name = {f.name: f for f in full.fields}
            missing = [c for c in columns if c not in by_name]
            if missing:
                raise ValueError(f"columns not in table {table!r}: {missing}")
            schema = T.StructType([by_name[c] for c in columns])
    cols = [f.name for f in schema.fields]

    if partition_column is None:
        slices = [predicate or None]
    else:
        if lower_bound is None or upper_bound is None:
            q = _quote_ident(partition_column)
            ((lo, hi),) = _fetchall(dsn, f"SELECT MIN({q}), MAX({q}) FROM {_quote_ident(table)}")
            if lo is None:  # empty table (or all-NULL keys)
                lower_bound, upper_bound = 0, 1
            else:
                lower_bound, upper_bound = int(lo), int(hi) + 1
        parts = slice_predicates(
            partition_column, lower_bound, upper_bound, num_partitions
        )
        slices = [
            f"({predicate}) AND ({p})" if predicate else p for p in parts
        ]

    slice_sqls = [_fetch_slice_sql(table, cols, where) for where in slices]
    str_schema = T.StructType([T.StructField(c, T.StringType()) for c in cols])

    def pull(batches):
        # one slice index per row: open the task's own connection and
        # decode the slice's COPY-CSV stream as it arrives
        from datagouv_tools_spark.sinks.pg_copy import _connect, copy_out, csv_batches

        for batch in batches:
            for idx in batch.column(0).to_pylist():
                conn = _connect(dsn)
                try:
                    yield from csv_batches(copy_out(conn, slice_sqls[idx]), cols)
                finally:
                    conn.close()

    # partition i of the Range holds exactly slice index i, so each
    # slice is its own task; a JVM Range (not createDataFrame of a
    # list, a Python RDD) adds no Python task of its own
    idx_df = spark.range(len(slice_sqls), numPartitions=len(slice_sqls))
    raw = idx_df.mapInArrow(pull, schema=str_schema)

    # JVM-side casts to the inferred schema (inside codegen; the Python
    # boundary above only shuttles strings)
    # backticked: a name with a dot is one column, not a struct field
    cols = [F.col("`" + f.name.replace("`", "``") + "`") for f in schema.fields]
    return raw.select([
        c if isinstance(f.dataType, T.StringType) else c.cast(f.dataType).alias(f.name)
        for c, f in zip(cols, schema.fields)
    ])
