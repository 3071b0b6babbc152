"""functions/litfast: single-expr literal arrays must equal the
per-element F.lit loop form bit-for-bit (values AND types), because
every converted operator (minhash permutations, simhash masks,
perceptron weights, k-center centers, JL projection planes) relies on
that equivalence for its oracle hash."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datagouv_tools_spark.functions.litfast import (
    lit_bigint_array,
    lit_bigint_matrix,
    lit_double_array,
    lit_double_matrix,
)

BIGINTS = [0, 1, -1, 5, (1 << 62), -(1 << 63), (1 << 63) - 1]
DOUBLES = [0.0, -0.0, 0.1, -2.5, 1e-300, 1.7976931348623157e308, 3.3e-5]


def _one(spark, col):
    return spark.range(1).select(col.alias("x")).collect()[0][0]


def test_bigint_array_matches_lit_loop(spark):
    fast = _one(spark, lit_bigint_array(BIGINTS))
    loop = _one(
        spark, F.array(*[F.lit(v).cast("bigint") for v in BIGINTS])
    )
    assert fast == loop == BIGINTS


def test_double_array_matches_lit_loop_bitwise(spark):
    import struct

    fast = _one(spark, lit_double_array(DOUBLES))
    loop = _one(spark, F.array(*[F.lit(float(v)) for v in DOUBLES]))
    assert [struct.pack("d", v) for v in fast] == [
        struct.pack("d", v) for v in loop
    ] == [struct.pack("d", v) for v in DOUBLES]


def test_matrices_and_empty(spark):
    rows = [[1, 2], [3, -4]]
    assert _one(spark, lit_bigint_matrix(rows)) == rows
    drows = [[0.5, -1.25], [3.3e-5, 0.0]]
    assert _one(spark, lit_double_matrix(drows)) == drows
    empty = _one(spark, lit_bigint_array([]))
    assert empty == []
    # empty arrays keep a usable element type (not NullType)
    df = spark.range(1).select(lit_bigint_array([]).alias("x"))
    assert df.schema["x"].dataType.simpleString() == "array<bigint>"


def test_bigint_guards():
    with pytest.raises(ValueError):
        lit_bigint_array([1 << 63])
    with pytest.raises(ValueError):
        lit_bigint_array([1.5])


def test_nonfinite_doubles(spark):
    import math

    vals = [float("nan"), float("inf"), float("-inf")]
    got = _one(spark, lit_double_array(vals))
    assert math.isnan(got[0]) and got[1] == math.inf and got[2] == -math.inf


def test_sql_ref_dotted_names_match_f_col(spark):
    from datagouv_tools_spark.functions.litfast import sql_ref

    assert sql_ref("a") == "`a`"
    assert sql_ref("q.vec") == "`q`.`vec`"
    # struct field through the SQL path resolves like F.col does
    df = spark.createDataFrame(
        [(1, ([1.0, 2.0],))], "id long, s struct<vec:array<double>>"
    )
    via_sql = df.select(F.expr(f"size({sql_ref('s.vec')})")).collect()
    via_col = df.select(F.size(F.col("s.vec"))).collect()
    assert via_sql == via_col


def test_sql_string_same_value_under_escaped_string_literals_conf(spark):
    """A rendered string literal reads back as the Python string whether
    ``spark.sql.parser.escapedStringLiterals`` is off or on, and inside
    a lambda as well as at top level; a string with neither a quote nor
    a backslash keeps its plain ``'...'`` text."""
    from datagouv_tools_spark.functions.litfast import sql_string

    assert sql_string("plain") == "'plain'"
    assert sql_string("été") == "'été'"
    assert sql_string("") == "''"
    vals = ["a'b\\c", "a\\b", "'", "\\", "\\'", "l'été", "été", "", "plain"]
    key = "spark.sql.parser.escapedStringLiterals"
    for setting in ("false", "true"):
        spark.conf.set(key, setting)
        try:
            row = spark.range(1).select(
                *[F.expr(sql_string(v)).alias(f"c{i}") for i, v in enumerate(vals)],
                F.expr(
                    f"transform(array(1), x -> {sql_string(vals[0])})[0]"
                ).alias("lam"),
            ).collect()[0]
        finally:
            spark.conf.unset(key)
        assert list(row)[: len(vals)] == vals, setting
        assert row["lam"] == vals[0], setting


def test_vectors_sql_path_dotted_and_shadowed_names(spark):
    from datagouv_tools_spark.functions import vectors as V

    df = spark.createDataFrame(
        [(1, ([3.0, 4.0],))], "id long, s struct<vec:array<double>>"
    )
    row = df.select(
        V.dot("s.vec", "s.vec").alias("d"), V.norm("s.vec").alias("n")
    ).collect()[0]
    assert row["d"] == 25.0 and row["n"] == 5.0
    # a vector column literally named `x` must not be shadowed by the
    # normalize transform's lambda variable
    dfx = spark.createDataFrame([(1, [3.0, 4.0])], "id long, x array<double>")
    z = dfx.select(V.normalize("x").alias("z")).collect()[0]["z"]
    assert [round(v, 6) for v in z] == [0.6, 0.8]

