"""Local mimic of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, column
names, and (order-insensitively, columns sorted by name) the values.

Usage:  python tools/paritycheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import math

import duckdb
import pandas as pd


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: tuple(v) if isinstance(v, (list, tuple, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if pd.isna(a) and pd.isna(b):
        return True
    try:
        if pd.isna(a) != pd.isna(b):
            return False
    except (TypeError, ValueError):
        pass
    return a == b


def compare(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duckdb={len(duck_pdf)}")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns: spark={sorted(spark_pdf.columns)} duckdb={sorted(duck_pdf.columns)}"
        )
    if problems:
        return problems
    a, b = _normalize(spark_pdf), _normalize(duck_pdf)
    # The driver's value-hash is repr-sensitive: an int64 99111 and a
    # float64 99111.0 hash differently even though == says equal. DuckDB
    # SUM(BIGINT) returns HUGEINT (-> pandas float64/object) while Spark
    # sum(bigint) stays int64 — flag kind drift so it's caught locally.
    for col in a.columns:
        ka, kb = a[col].dtype.kind, b[col].dtype.kind
        ints, flts = {"i", "u"}, {"f"}
        if (ka in ints and kb in flts) or (ka in flts and kb in ints):
            problems.append(
                f"dtype kind mismatch col={col}: spark={a[col].dtype} duckdb={b[col].dtype}"
                " (driver hash would differ — CAST the oracle aggregate)"
            )
    if problems:
        return problems
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not _values_equal(x, y):
                problems.append(f"value mismatch col={col} row={i}: spark={x!r} duckdb={y!r}")
                break
    return problems


def main() -> int:
    import os

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    # this checkout's code, wherever it lives
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from harness import select

    from datagouv_tools_spark.session import get_spark
    from datagouv_tools_spark.sources.catalog import TESTDATA_TABLES, table_path

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = select(sys.argv[2:], queries)

    spark = get_spark("paritycheck")
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{table_path(sf_dir, name)}')"
        )

    n_pass = n_fail = n_weak = 0
    for name in names:
        try:
            spark_pdf = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            n_fail += 1
            continue
        sql = oracles.get(name)
        if sql is None:
            print(f"WEAK {name}: rows={len(spark_pdf)} (no oracle — rows-only check)")
            n_weak += 1
            continue
        try:
            duck_pdf = con.execute(sql).df()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            n_fail += 1
            continue
        problems = compare(spark_pdf, duck_pdf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        else:
            print(f"PASS {name}: rows={len(spark_pdf)}")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail, {n_weak} weak (rows-only)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
