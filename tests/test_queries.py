"""Smoke + oracle-parity tests for the declared query surface.

Every ``QUERIES`` entry must run at sf0.001 and produce a stable schema;
entries with an oracle are hash-compared against DuckDB at sf0.001
(the driver repeats this at sf0.01).
"""

from __future__ import annotations

import duckdb
import pytest

from datagouv_tools_spark.queries import ORACLE, QUERIES
from datagouv_tools_spark.sources.catalog import TESTDATA_TABLES, table_path

import sys

sys.path.insert(0, "/root/repo/tools")
from paritycheck import compare  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * "
            f"FROM read_parquet('{table_path(sf_dir, name)}')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, name
    assert df.count() >= 0


@pytest.fixture(scope="module")
def query_schemas(spark, sf_dir):
    """Each declared query's output schema, built once for the two
    schema checks below (building all of them is the slow part)."""
    return {name: fn(spark, sf_dir).schema for name, fn in QUERIES.items()}


def test_no_query_returns_nested_types(query_schemas):
    """The driver's pandas canonicalizer cannot hash array/map/struct
    cells (``TypeError: unhashable type`` — the two CORRECTNESS_r03
    reds): every declared query must emit scalar columns only. Flatten
    arrays to q25/q50/q75-style scalars or ``array_join`` strings (see
    customer_acctbal_quartiles / user_event_type_arrays)."""
    from pyspark.sql import types as T

    nested = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, schema in query_schemas.items():
        bad = [f.name for f in schema.fields if isinstance(f.dataType, nested)]
        if bad:
            offenders.append((name, bad))
    assert not offenders, offenders


def test_no_query_returns_decimal_types(query_schemas):
    """The driver's value hasher mishandled a DECIMAL(38,0) output in
    r05 (``events_distinct_sketch`` red while Spark==DuckDB==Python were
    bit-identical locally): decimals are fine as INTERNAL exact
    arithmetic but must never cross the harness — surface them as
    BIGINT (split hi/lo if wider than 2^63), double (via dround), or
    string."""
    from pyspark.sql import types as T

    offenders = []
    for name, schema in query_schemas.items():
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, T.DecimalType)
        ]
        if bad:
            offenders.append((name, bad))
    assert not offenders, offenders


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    spark_pdf = QUERIES[name](spark, sf_dir).toPandas()
    duck_pdf = duck.execute(ORACLE[name]).df()
    problems = compare(spark_pdf, duck_pdf)
    assert not problems, f"{name}: {problems}"


def test_compare_flags_int_float_dtype_drift():
    """The driver's value-hash distinguishes int64 99111 from float64
    99111.0 (DuckDB SUM(BIGINT) -> HUGEINT -> float64 was the round-1
    events_json_extract / doc_token_stats failure); compare() must too."""
    import pandas as pd

    a = pd.DataFrame({"k": ["x"], "s": pd.array([99111], dtype="int64")})
    b = pd.DataFrame({"k": ["x"], "s": pd.array([99111.0], dtype="float64")})
    assert any("dtype kind mismatch" in p for p in compare(a, b))
    assert compare(a, a.copy()) == []


def test_parity_comparator_detects_drift():
    """The oracle gate is only as good as its comparator: row-count,
    column-name, value, and dtype-kind drift must each be caught (a
    comparator that silently passes everything would turn the whole
    oracle suite green forever)."""
    import pandas as pd

    base = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert compare(base, base.copy()) == []
    # row-order insensitivity (the driver sorts before hashing)
    assert compare(base, base.iloc[::-1].reset_index(drop=True)) == []
    assert compare(base, base.head(1))  # row count
    assert compare(base, base.rename(columns={"b": "c"}))  # column names
    drift = base.copy()
    drift.loc[0, "a"] = 99
    assert compare(base, drift)  # value drift
    kind = base.copy()
    kind["a"] = kind["a"].astype(float)  # int64 vs float64 hash drift
    assert compare(base, kind)


def test_deciles_sketch_error_bound_vs_exact(spark, sf01_dir):
    """The sampled decile profile must track the exact one: at sf0.1
    (1/16 sample of ~1.4M events) every decile's population is n/10
    within 3% of n, and the sampled boundaries (hi of deciles 1..9)
    sit within the exact neighbor deciles' value range."""
    from datagouv_tools_spark.queries import QUERIES

    exact = {
        r["decile"]: r
        for r in QUERIES["events_value_deciles"](spark, sf01_dir).collect()
    }
    sketch = {
        r["decile"]: r
        for r in QUERIES["events_value_deciles_sketch"](
            spark, sf01_dir
        ).collect()
    }
    assert set(sketch) == set(range(1, 11))
    n = sum(r["n_events"] for r in exact.values())
    assert n == sum(r["n_events"] for r in sketch.values())
    for d in range(1, 11):
        assert abs(sketch[d]["n_events"] - n / 10) <= 0.03 * n, (
            d,
            sketch[d]["n_events"],
            n,
        )
    # sampled decile-d upper boundary lies between the exact (d-1)-th
    # and (d+1)-th deciles' hi values
    for d in range(1, 10):
        lo_ok = d == 1 or sketch[d]["hi"] >= exact[d - 1]["hi"]
        hi_ok = sketch[d]["hi"] <= exact[d + 1]["hi"]
        assert lo_ok and hi_ok, (d, sketch[d]["hi"])
