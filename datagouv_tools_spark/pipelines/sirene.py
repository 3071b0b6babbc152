"""SIRENE import pipeline (SURVEY §3.1; reference import_sirene.py).

Same public shape as the reference — (path, rdbms, process_names,
bulk_copy) — re-expressed as: source discovery (driver) → dessin →
StructType → staged unzip → schema'd CSV read → rename + patched casts
→ SQL sink (drop/create/load/analyze/index/commit) or parquet sink.

With no connection the sink runs in dry-run mode and the rendered SQL
statements are returned — the reference's FakeConnection path (K11),
and how the golden tests assert the DDL.
"""

from __future__ import annotations

import contextlib
import logging
import tempfile
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from datagouv_tools_spark.functions.names import to_snake
from datagouv_tools_spark.schema.ddl import SireneIndexProvider
from datagouv_tools_spark.schema.dessin import SireneSchema
from datagouv_tools_spark.schema.types import PatchedSireneTypeConverter, TypeConverter
from datagouv_tools_spark.sinks.sink import ParquetSink, write_sql_table
from datagouv_tools_spark.sources.zipped_csv import discover_sirene_sources, read_zipped_csv

logger = logging.getLogger(__name__)

__all__ = ["import_sirene", "sirene_table"]


def sirene_table(
    spark: SparkSession,
    source,
    staging_dir: str,
    type_converter: TypeConverter | None = None,
    process_names: Callable[[str], str] | None = to_snake,
) -> DataFrame:
    """One SIRENE table: dessin → StructType → zipped CSV → renamed,
    typed DataFrame. Casts use try_* (dirty data → NULL, job survives)."""
    schema = SireneSchema.from_path(source.table_name, source.schema_path)
    struct = schema.to_struct(type_converter, process_names)
    raw = read_zipped_csv(spark, source.zipped_data_path, struct, staging_dir)
    from datagouv_tools_spark.schema.types import SQL_TYPES

    cols = []
    for f in struct.fields:
        sql_type = (f.metadata or {}).get("sql_type", "text")
        cols.append(SQL_TYPES[sql_type].cast(f.name).alias(f.name))
    return raw.select(*cols)


def import_sirene(
    spark: SparkSession,
    sirene_path: str | Path,
    rdbms: str = "pg",
    connection: object | None = None,
    process_names: Callable[[str], str] | None = to_snake,
    bulk_copy: bool = True,
    staging_dir: str | None = None,
    parquet_out: str | None = None,
    out_format: str = "parquet",
    dsn: str | None = None,
) -> dict[str, list[str] | str]:
    """Import every discovered SIRENE source.

    Returns per-table: the dry-run SQL statements (connection=None), or
    the lake path (parquet_out set; ``out_format`` picks parquet/orc —
    both keep the pushdown-verified scan path), mirroring the
    reference's connection-or-fake dispatch (import_sirene.py:424-425).

    ``dsn`` (PostgreSQL URL) is the live-server path: DDL phases run
    over a connection built from it, and with ``bulk_copy=True`` the
    data loads through the distributed COPY fast path instead of row
    INSERTs — the reference's bulk_copy dispatch
    (import_sirene.py:137-141; see sinks/sink.write_sql_table)."""
    sirene_path = Path(sirene_path)
    assert sirene_path.exists(), f"no such path: {sirene_path}"
    table_name_of = process_names or (lambda s: s)
    results: dict[str, list[str] | str] = {}
    # an unzip dir made here is removed after the writes; a caller's is kept
    temp = None if staging_dir else tempfile.TemporaryDirectory(prefix="sirene_staging_")
    with temp or contextlib.nullcontext(staging_dir) as staging:
        for source in discover_sirene_sources(sirene_path):
            if source.schema_path is None:
                logger.warning("missing dessin for %s: skipped", source.table_name)  # F4
                continue
            df = sirene_table(spark, source, staging, PatchedSireneTypeConverter(), process_names)
            table = table_name_of(source.table_name)
            if parquet_out:
                results[table] = ParquetSink(parquet_out, fmt=out_format).write(df, table)
            else:
                statements = write_sql_table(
                    df, table, rdbms, SireneIndexProvider(), connection, dsn, bulk_copy
                )
                results[table] = "loaded" if statements is None else statements
    return results
