"""FANTOIR import pipeline (SURVEY §3.2; reference import_fantoir.py).

One classified scan of the fixed-width file → demux into the four
record-type tables through ``operators/dispatch.dispatch_by`` (header
skipped at load, like the reference's temp-file path,
import_fantoir.py:112-113) → per-table sink writes.

``import_fantoir`` persists the classified scan so the three table
writes share one file read, and releases it (and its unzip dir) after.
The reference's 150 LoC of threads/queues/CSVStream is replaced by
Spark's partitioned parallel execution; the temp-file two-pass variant
maps to ``dispatch_by``'s ``staged`` strategy (one scan → partitionBy
staging → pruned reads), which is the shape that holds at 100 TB.
"""

from __future__ import annotations

import contextlib
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from datagouv_tools_spark.operators.dispatch import dispatch_by
from datagouv_tools_spark.schema.ddl import EmptyIndexProvider
from datagouv_tools_spark.schema.record_format import FANTOIR_FORMATS
from datagouv_tools_spark.sinks.sink import ParquetSink, write_sql_table
from datagouv_tools_spark.sources.fixed_width import read_fantoir

__all__ = ["import_fantoir", "fantoir_tables"]

LOADED_RECORD_TYPES = ("direction", "commune", "voie")  # header skipped


def _maybe_unzip(fantoir_path: Path, staging_dir: str | None) -> Path:
    if fantoir_path.suffix != ".zip":
        return fantoir_path
    staging = Path(staging_dir or tempfile.mkdtemp(prefix="fantoir_staging_"))
    staging.mkdir(parents=True, exist_ok=True)
    with zipfile.ZipFile(fantoir_path) as zf:
        member = zf.namelist()[0]  # single-member archives (S7)
        target = staging / "fantoir.txt"
        with zf.open(member) as src, open(target, "wb") as dst:
            dst.write(src.read())
    return target


def _record_tables(classified: DataFrame) -> dict[str, DataFrame]:
    views = dispatch_by(classified, F.col("record_type"), list(FANTOIR_FORMATS))
    return {name: fmt.apply(views[name]) for name, fmt in FANTOIR_FORMATS.items()}


def fantoir_tables(
    spark: SparkSession,
    fantoir_path: str | Path,
    staging_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Classified scan → {record_type: DataFrame} (all-string columns,
    like the reference's all-TEXT tables, import_fantoir.py:160-163).
    The frames read the unzipped file lazily, so an unzip temp dir made
    here (no ``staging_dir``) is kept."""
    return _record_tables(read_fantoir(spark, _maybe_unzip(Path(fantoir_path), staging_dir)))


def import_fantoir(
    spark: SparkSession,
    fantoir_path: str | Path,
    rdbms: str = "pg",
    connection: object | None = None,
    staging_dir: str | None = None,
    parquet_out: str | None = None,
    dsn: str | None = None,
    bulk_copy: bool = True,
) -> dict[str, list[str] | str]:
    """Import the three loaded record-type tables; dry-run statements
    (connection=None) or parquet paths are returned per table. ``dsn``
    + ``bulk_copy`` enable the live-PostgreSQL COPY path (see
    sinks/sink.write_sql_table)."""
    temp = None if staging_dir else tempfile.TemporaryDirectory(prefix="fantoir_staging_")
    with temp or contextlib.nullcontext(staging_dir) as staging:
        classified = read_fantoir(spark, _maybe_unzip(Path(fantoir_path), staging))
        classified = classified.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            tables = _record_tables(classified)
            results: dict[str, list[str] | str] = {}
            for name in LOADED_RECORD_TYPES:
                if parquet_out:
                    results[name] = ParquetSink(parquet_out).write(tables[name], name)
                else:
                    statements = write_sql_table(
                        tables[name], name, rdbms, EmptyIndexProvider(), connection, dsn, bulk_copy
                    )
                    results[name] = "loaded" if statements is None else statements
            return results
        finally:
            classified.unpersist()
