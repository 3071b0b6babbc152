"""Distributed PostgreSQL read (sources/pg_read.py).

Unit layer: slice grammar + schema mapping without a server. Live
layer: write a DataFrame through the COPY sink, read it back with
executor-parallel key-range slices, and require exact equality —
the full north-star read-transform-write loop against a real server.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datagouv_tools_spark.sinks.pg_copy import csv_batches
from datagouv_tools_spark.sources.pg_read import (
    _fetch_slice_sql,
    read_pg_parallel,
    slice_predicates,
)


def test_slice_predicates_tile_the_line():
    preds = slice_predicates("k", 0, 100, 4)
    assert preds == [
        '"k" < 25 OR "k" IS NULL',
        '"k" >= 25 AND "k" < 50',
        '"k" >= 50 AND "k" < 75',
        '"k" >= 75',
    ]
    # bounds never filter: first slice is unbounded below, last above
    assert "OR" in preds[0] and preds[-1] == '"k" >= 75'


def test_slice_predicates_degenerate_cases():
    assert slice_predicates("k", 0, 10, 1) == ["TRUE"]
    # more partitions than span: collapses rather than emitting empty slices
    preds = slice_predicates("k", 5, 7, 8)
    assert preds == ['"k" < 6 OR "k" IS NULL', '"k" >= 6']
    # identifier quoting survives embedded quotes
    assert '"we""ird"' in slice_predicates('we"ird', 0, 10, 2)[0]


def test_fetch_slice_sql_pushes_projection_and_predicate():
    sql = _fetch_slice_sql("orders", ["o_orderkey", "o_totalprice"], '"k" >= 7')
    assert sql == (
        'SELECT "o_orderkey", "o_totalprice" FROM "orders" WHERE "k" >= 7'
    )
    # no predicate → no WHERE
    assert _fetch_slice_sql("t", ["a"], None) == 'SELECT "a" FROM "t"'


#: text PostgreSQL's COPY grammars treat specially: a backslash, the
#: text format's NULL marker, tab, bare CR, CRLF, non-ASCII, padding
#: spaces, a lone quote, delimiters, and the empty string next to NULL
_HOSTILE_TEXT = [
    "back\\slash",
    "\\N",
    "tab\there",
    "bare\rcr",
    "crlf\r\nline",
    "été 日本 🚀",
    "  padded  ",
    '"',
    'a,"b",c',
    "",
    None,
]


def _csv(rows, columns) -> bytes:
    """The COPY-CSV bytes the load path writes for ``rows`` of text."""
    import pyarrow as pa

    from datagouv_tools_spark.sinks.pg_copy import csv_chunks

    batch = pa.record_batch(
        [pa.array(col, pa.string()) for col in zip(*rows)], names=columns
    )
    return b"".join(csv_chunks([batch]))


def _load(df, dsn: str, table: str) -> None:
    """Load ``df`` into ``table`` through the import pipelines' sink."""
    from datagouv_tools_spark.schema.ddl import EmptyIndexProvider
    from datagouv_tools_spark.sinks.sink import write_sql_table

    write_sql_table(df, table, "pg", EmptyIndexProvider(), dsn=dsn)


def _drop_table(dsn: str, table: str) -> None:
    from datagouv_tools_spark.sinks.pg_copy import _connect

    conn = _connect(dsn)
    try:
        cur = conn.cursor()
        cur.execute(f'DROP TABLE IF EXISTS "{table}"')
        cur.close()
        conn.commit()
    finally:
        conn.close()


def test_csv_batches_decode_postgres_csv_at_any_chunk_boundary():
    """The Arrow decode reads PostgreSQL's CSV exactly: NULL stays
    distinct from '', quoted fields keep raw CR/LF, and a backslash or
    ``\\N`` is plain text. Chunk boundaries (down to one byte, which
    splits UTF-8 sequences and CRLF pairs) never change the result.
    The COPY-in serializer writes the same CSV dialect as the server.
    With one column, PostgreSQL writes a NULL as an empty line, which
    must read as a NULL row, not be skipped."""
    two = [(str(i), v) for i, v in enumerate(_HOSTILE_TEXT)]
    one = [(v,) for v in [None, *_HOSTILE_TEXT, None]]
    for rows, columns in ((two, ["id", "s"]), (one, ["s"])):
        body = _csv(rows, columns)
        for size in (1, 3, 7, len(body)):
            chunks = [body[i : i + size] for i in range(0, len(body), size)]
            got = [
                tuple(d.values())
                for b in csv_batches(iter(chunks), columns)
                for d in b.to_pylist()
            ]
            assert got == rows, (columns, size)
    assert b"\n\n" in _csv(one, ["s"])
    # an empty slice yields no batch (Arrow rejects an empty CSV)
    assert list(csv_batches(iter([b"", b""]), ["id", "s"])) == []


def test_csv_batches_decode_rows_larger_than_arrows_default_block():
    """Rows of several MiB decode whether the stream arrives as one
    chunk (psql CLI, pg8000) or in small pieces (psycopg 3). Arrow's
    default 1 MiB block raises 'straddling object' on either."""
    big = "x" * (3 << 20)
    hexed = "\\x" + "ab" * (3 << 20)  # a 3 MiB bytea is 6 MiB of hex
    rows = [("1", big), ("2", None), ("3", hexed), ("4", 'q"' + big)]
    body = _csv(rows, ["id", "s"])
    for size in (1 << 16, len(body)):
        chunks = [body[i : i + size] for i in range(0, len(body), size)]
        got = [
            tuple(d.values())
            for b in csv_batches(iter(chunks), ["id", "s"])
            for d in b.to_pylist()
        ]
        assert got == rows, size


def test_read_pg_parallel_plans_a_range_slice_index(spark):
    """The slice index is a JVM Range with one partition per slice: no
    Python-RDD scan (createDataFrame of a list) and no shuffle sit
    under the per-slice pull. With ``schema`` and bounds given, the
    plan is built without touching a server."""
    from datagouv_tools_spark.plans.inspect import physical_plan

    schema = T.StructType([T.StructField("id", T.IntegerType())])
    df = read_pg_parallel(
        spark, "postgresql://nobody@localhost:1/none", "t", schema=schema,
        partition_column="id", lower_bound=0, upper_bound=30, num_partitions=3,
    )
    plan = physical_plan(df, mode="simple")
    assert "Range (0, 3, step=1, splits=3)" in plan, plan
    assert "Scan ExistingRDD" not in plan and "Exchange" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert df.rdd.getNumPartitions() == 3


def test_read_pg_parallel_hostile_text_roundtrip_live(spark, pg_dsn):
    """Text and bytea the COPY formats escape, quote or special-case
    come back exactly, over several slices; '' stays distinct from
    NULL. bytea reads as PostgreSQL's ``\\x`` hex text."""
    table = "dg_spark_read_hostile"
    from datagouv_tools_spark.sinks.pg_copy import _connect

    def lit(v):
        return "NULL" if v is None else "'" + v.replace("'", "''") + "'"

    # bytes that are delimiters, quotes, newlines or a backslash in
    # text form; the empty bytea and a NULL one
    blobs = [
        "\\x" + (bytes([i, 0, 255, 44, 34, 10, 13, 92]) * (i % 3)).hex()
        for i in range(len(_HOSTILE_TEXT))
    ]
    blobs[-2] = None
    values = ", ".join(
        f"({i}, {lit(v)}, {lit(b)}::bytea)"
        for i, (v, b) in enumerate(zip(_HOSTILE_TEXT, blobs))
    )
    _drop_table(pg_dsn, table)
    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute(f'CREATE TABLE "{table}" (id int, s text, b bytea)')
        cur.execute(f'INSERT INTO "{table}" VALUES {values}')
        cur.close()
        conn.commit()
    finally:
        conn.close()
    try:
        got = read_pg_parallel(
            spark, pg_dsn, table, partition_column="id", num_partitions=3
        )
        assert got.rdd.getNumPartitions() == 3
        back = {r.id: (r.s, r.b) for r in got.collect()}
        assert back == dict(enumerate(zip(_HOSTILE_TEXT, blobs)))
        # one column: PostgreSQL writes each NULL as an empty line
        for col, want in (("s", _HOSTILE_TEXT), ("b", blobs)):
            single = read_pg_parallel(spark, pg_dsn, table, columns=[col])
            assert Counter(r[0] for r in single.collect()) == Counter(want), col
    finally:
        _drop_table(pg_dsn, table)


def test_read_pg_parallel_multi_mib_values_live(spark, pg_dsn):
    """A text value and a bytea value of several MiB each (the bytea
    doubles as hex) read back whole, next to small rows, over one and
    over two slices."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    table = "dg_spark_read_large"
    n = 3 << 20
    _drop_table(pg_dsn, table)
    conn = _connect(pg_dsn)
    try:
        cur = conn.cursor()
        cur.execute(f'CREATE TABLE "{table}" (id int, s text, b bytea)')
        cur.execute(
            f'INSERT INTO "{table}" VALUES (1, \'small\', NULL),'
            f" (2, repeat('x', {n}), decode(repeat('ab', {n}), 'hex')),"
            " (3, NULL, '\\x00'::bytea)"
        )
        cur.close()
        conn.commit()
    finally:
        conn.close()
    try:
        for kwargs in ({}, {"partition_column": "id", "num_partitions": 2}):
            got = read_pg_parallel(spark, pg_dsn, table, **kwargs).select(
                "id", F.length("s").alias("s"), F.length("b").alias("b"),
                F.substring("b", 1, 6).alias("head"),
            )
            assert sorted(got.collect()) == [
                (1, 5, None, None), (2, n, 2 + 2 * n, "\\xabab"), (3, None, 4, "\\x00"),
            ], kwargs
    finally:
        _drop_table(pg_dsn, table)


def test_copy_out_renders_iso_whatever_the_session_defaults_live(pg_dsn):
    """A session whose defaults render dates as 'SQL, DMY', intervals
    as sql_standard and bytea as escape still gets ISO dates,
    ``postgres`` intervals and hex bytea from ``copy_out``: the forms
    the JVM casts and the bytea-as-hex contract of ``pg_read`` expect."""
    from urllib.parse import quote

    from datagouv_tools_spark.sinks.pg_copy import _connect, copy_out

    options = "-c DateStyle=SQL,DMY -c IntervalStyle=sql_standard -c bytea_output=escape"
    dsn = f"{pg_dsn}?options={quote(options)}"
    conn = _connect(dsn)
    try:
        cur = conn.cursor()
        cur.execute("SHOW DateStyle")
        assert cur.fetchall()[0][0] == "SQL, DMY"  # the defaults did apply
        cur.close()
        query = (
            "SELECT DATE '2024-01-15', TIMESTAMP '2024-01-15 10:30:00',"
            " INTERVAL '1 day 2 hours', '\\x00ff'::bytea"
        )
        got = [
            tuple(d.values())
            for b in csv_batches(copy_out(conn, query), ["d", "ts", "i", "b"])
            for d in b.to_pylist()
        ]
    finally:
        conn.close()
    assert got == [("2024-01-15", "2024-01-15 10:30:00", "1 day 02:00:00", "\\x00ff")]


def test_read_pg_parallel_runs_one_task_per_slice_in_one_job(spark, pg_dsn):
    """A read-back of N slices is one Spark job of one stage and N
    tasks: the Range index adds no sample job, shuffle or Python
    identity task of its own."""
    table = "dg_spark_read_tasks"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "id int, s string")
    _load(df.repartition(1), pg_dsn, table)
    sc = spark.sparkContext
    try:
        for n, kwargs in ((1, {}), (4, {"partition_column": "id", "num_partitions": 4})):
            got = read_pg_parallel(spark, pg_dsn, table, **kwargs)
            group = f"pg_read_tasks_{n}"
            sc.setJobGroup(group, group)
            try:
                assert len(got.collect()) == 40
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            tracker = sc.statusTracker()
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            stages = [tracker.getStageInfo(s) for j in jobs for s in j.stageIds]
            assert len(jobs) == 1, jobs
            assert [s.numTasks for s in stages] == [n], stages
    finally:
        _drop_table(pg_dsn, table)


def test_read_pg_parallel_roundtrip_live(spark, pg_dsn):
    """COPY-write a typed DataFrame, read it back with 3 parallel
    slices, compare row-for-row (ints, decimals, dates, timestamps,
    bools, NULLs, empty-vs-NULL strings all survive the loop)."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    df = spark.createDataFrame(
        [
            (1, "plain", "10.50", "2024-01-15", "2024-01-15 10:30:00", True, 1.5),
            (2, "", "0.01", "2024-02-29", "2024-02-29 23:59:59", False, -2.25),
            (3, None, None, None, None, None, None),
            (4, 'q"uote,\nline', "-99999.99", "1999-12-31", "1999-12-31 00:00:00", True, 0.0),
        ],
        "id int, label string, amount string, d string, ts string, flag boolean, x double",
    ).select(
        "id",
        "label",
        F.col("amount").cast(T.DecimalType(10, 2)).alias("amount"),
        F.to_date("d").alias("d"),
        F.to_timestamp("ts").alias("ts"),
        "flag",
        "x",
    )
    _load(df.repartition(2), pg_dsn, "dg_spark_read_rt")
    try:
        got = read_pg_parallel(
            spark, pg_dsn, "dg_spark_read_rt", partition_column="id", num_partitions=3
        )
        # inferred schema matches what the DDL emitted
        by_name = {f.name: f.dataType for f in got.schema.fields}
        assert by_name["id"] == T.IntegerType()
        assert by_name["amount"] == T.DecimalType(10, 2)
        assert by_name["d"] == T.DateType()
        assert by_name["flag"] == T.BooleanType()
        # ids span 1..4 → stride ceil(4/3)=2 collapses to 2 real slices
        assert got.rdd.getNumPartitions() == 2
        left = {r["id"]: r.asDict() for r in df.collect()}
        right = {r["id"]: r.asDict() for r in got.collect()}
        # timestamp column may infer as NTZ; compare as naive datetimes
        assert set(left) == set(right)
        for k in left:
            for c, v in left[k].items():
                assert right[k][c] == v, (k, c, v, right[k][c])
    finally:
        conn = _connect(pg_dsn)
        try:
            cur = conn.cursor()
            cur.execute('DROP TABLE "dg_spark_read_rt"')
            cur.close()
            conn.commit()
        finally:
            conn.close()


def test_read_pg_parallel_pushdown_and_bounds_never_drop_rows(spark, pg_dsn):
    """Projection + predicate reach the server (only requested data
    returns), and deliberately-wrong bounds still return every
    matching row — the Spark-JDBC slice contract."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    df = spark.createDataFrame(
        [(i, f"u{i % 3}", i * 10) for i in range(1, 51)],
        "id int, grp string, val int",
    )
    _load(df.repartition(2), pg_dsn, "dg_spark_read_pd")
    try:
        got = read_pg_parallel(
            spark,
            pg_dsn,
            "dg_spark_read_pd",
            partition_column="id",
            num_partitions=4,
            columns=["id", "val"],
            predicate="val >= 200",
            lower_bound=20,  # wrong on purpose: true range is 1..50
            upper_bound=30,
        )
        assert got.columns == ["id", "val"]
        rows = sorted((r.id, r.val) for r in got.collect())
        assert rows == [(i, i * 10) for i in range(20, 51)]
    finally:
        conn = _connect(pg_dsn)
        try:
            cur = conn.cursor()
            cur.execute('DROP TABLE "dg_spark_read_pd"')
            cur.close()
            conn.commit()
        finally:
            conn.close()


def test_read_pg_parallel_empty_table_and_no_partition_column(spark, pg_dsn):
    from datagouv_tools_spark.sinks.pg_copy import _connect

    df = spark.createDataFrame([], "id int, s string")
    # loading an empty frame still creates the table
    _load(df.repartition(1), pg_dsn, "dg_spark_read_empty")
    try:
        got = read_pg_parallel(
            spark, pg_dsn, "dg_spark_read_empty", partition_column="id"
        )
        assert got.count() == 0
        single = read_pg_parallel(spark, pg_dsn, "dg_spark_read_empty")
        assert single.count() == 0
    finally:
        conn = _connect(pg_dsn)
        try:
            cur = conn.cursor()
            cur.execute('DROP TABLE "dg_spark_read_empty"')
            cur.close()
            conn.commit()
        finally:
            conn.close()


def test_read_pg_parallel_unknown_column_raises(spark, pg_dsn):
    from datagouv_tools_spark.sinks.pg_copy import _connect

    df = spark.createDataFrame([(1, "a")], "id int, s string")
    _load(df.repartition(1), pg_dsn, "dg_spark_read_cols")
    try:
        with pytest.raises(ValueError, match="nope"):
            read_pg_parallel(spark, pg_dsn, "dg_spark_read_cols", columns=["id", "nope"])
        with pytest.raises(ValueError, match="not found"):
            read_pg_parallel(spark, pg_dsn, "dg_spark_no_such_table")
    finally:
        conn = _connect(pg_dsn)
        try:
            cur = conn.cursor()
            cur.execute('DROP TABLE "dg_spark_read_cols"')
            cur.close()
            conn.commit()
        finally:
            conn.close()


def test_north_star_loop_parquet_copy_readback(spark, sf_dir, pg_dsn):
    """The full north-star loop at real (sf0.001) data shape: parquet
    scan → DataFrame transform → distributed COPY into PostgreSQL →
    executor-parallel read-back → aggregate equality with the
    original. Timestamps go through NTZ on both legs."""
    from datagouv_tools_spark.sinks.pg_copy import _connect

    orders = (
        spark.read.parquet(sf_dir + "/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast(T.DecimalType(18, 2)).alias("o_totalprice"),
        )
    )
    _load(orders.repartition(4), pg_dsn, "dg_spark_orders_rt")
    try:
        back = read_pg_parallel(
            spark,
            pg_dsn,
            "dg_spark_orders_rt",
            partition_column="o_orderkey",
            num_partitions=6,
        )
        want = orders.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.countDistinct("o_custkey").alias("c"),
        ).collect()[0]
        got = back.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").alias("s"),
            F.countDistinct("o_custkey").alias("c"),
        ).collect()[0]
        assert (got.n, got.s, got.c) == (want.n, want.s, want.c)
        assert back.rdd.getNumPartitions() == 6
    finally:
        conn = _connect(pg_dsn)
        try:
            cur = conn.cursor()
            cur.execute('DROP TABLE "dg_spark_orders_rt"')
            cur.close()
            conn.commit()
        finally:
            conn.close()


def test_slice_predicates_tile_exactly_property():
    """Every integer key (and NULL) matches EXACTLY one slice — the
    property that makes wrong bounds skew but never drop/duplicate."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(-1000, 1000),
        st.integers(1, 2000),
        st.integers(1, 40),
        st.integers(-3000, 3000),
    )
    def check(lower, span, n, probe):
        preds = slice_predicates("k", lower, lower + span, n)

        def matches(pred: str, v) -> bool:
            # evaluate the SQL fragment in Python (same operators)
            import re

            if pred == "TRUE":
                return True
            if v is None:
                return "IS NULL" in pred
            clauses = re.findall(r'"k" (>=|<) (-?\d+)', pred)
            joiner_and = " AND " in pred
            results = [
                (v >= int(b)) if op == ">=" else (v < int(b))
                for op, b in clauses
            ]
            return all(results) if joiner_and else any(results)

        hits = sum(1 for p in preds if matches(p, probe))
        assert hits == 1, (preds, probe)
        assert sum(1 for p in preds if matches(p, None)) == 1

    check()


def test_psqlrc_output_never_reaches_a_read_live(spark, pg_dsn, tmp_path, monkeypatch):
    """A psqlrc that prints (``\\timing on`` writes a ``Time: ...`` line
    to stdout after each command) changes neither the catalog query
    behind schema inference nor a sliced read-back, in the driver or in
    the Python workers."""
    from datagouv_tools_spark.sources.pg_read import pg_table_schema

    rc = tmp_path / "psqlrc"
    rc.write_text("\\timing on\n\\pset footer on\n")
    table = "dg_spark_read_psqlrc"
    df = spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id int, s string")
    _load(df, pg_dsn, table)
    monkeypatch.setenv("PSQLRC", str(rc))
    monkeypatch.setitem(spark.sparkContext.environment, "PSQLRC", str(rc))
    try:
        assert pg_table_schema(pg_dsn, table) == T.StructType(
            [T.StructField("id", T.IntegerType()), T.StructField("s", T.StringType())]
        )
        got = read_pg_parallel(spark, pg_dsn, table, partition_column="id", num_partitions=2)
        assert Counter(got.collect()) == Counter(df.collect())
    finally:
        _drop_table(pg_dsn, table)


def test_read_pg_parallel_dotted_and_backticked_column_names_live(spark, pg_dsn):
    """A column named ``a.b`` is one column, not a struct field, and a
    backtick in a name is a character of it: both load and read back by
    name, over one slice and over two."""
    table = "dg_spark_read_names"
    schema = T.StructType([
        T.StructField("id", T.IntegerType()),
        T.StructField("a.b", T.IntegerType()),
        T.StructField("x`y", T.StringType()),
    ])
    df = spark.createDataFrame([(i, i * 10, f"v{i}") for i in range(6)], schema)
    _load(df, pg_dsn, table)
    try:
        for n, kwargs in ((1, {}), (2, {"partition_column": "id", "num_partitions": 2})):
            got = read_pg_parallel(spark, pg_dsn, table, **kwargs)
            assert got.schema == schema
            assert got.rdd.getNumPartitions() == n
            assert Counter(got.collect()) == Counter(df.collect())
    finally:
        _drop_table(pg_dsn, table)
