"""Fixed-width text source (SURVEY §2.1 S5/S6, §2.3 F1/F3, §2.4 D1).

``spark.read.text`` gives one string column per line (splittable,
parallel); the record format's substring projection turns it into typed
columns without any Python in the row path.

The FANTOIR file interleaves four record types in one file. The
scale-correct single-pass plan (reference dispatches line-by-line to 4
outputs, import_fantoir.py:166-206):

- classify each line once (``read_fantoir`` → ``record_type``),
- demux the classified scan with ``operators/dispatch.dispatch_by``
  (D1/D2), as ``pipelines/fantoir.py`` does.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datagouv_tools_spark.schema.record_format import (
    RecordFormat,
    classify_fantoir_record,
)

__all__ = ["read_fixed_width", "read_fantoir"]

FANTOIR_TRAILER_PREFIX = "9999999999"


def read_fixed_width(
    spark: SparkSession,
    path: str | Path,
    record_format: RecordFormat,
    encoding: str = "UTF-8",
    trim: bool = True,
) -> DataFrame:
    """Read a single-record-type fixed-width file (e.g. the deaths file,
    S6)."""
    lines = spark.read.text(str(path))
    if encoding.upper() not in ("UTF-8", "UTF8", "ASCII", "US-ASCII"):
        lines = spark.read.option("encoding", encoding).text(str(path))
    return record_format.apply(lines, trim=trim)


def read_fantoir(
    spark: SparkSession,
    path: str | Path,
    encoding: str = "ISO-8859-1",
) -> DataFrame:
    """Raw classified FANTOIR scan: one row per line with its
    ``record_type`` column, trailer dropped (F1+F3)."""
    lines = spark.read.option("encoding", encoding).text(str(path))
    return lines.filter(
        ~F.col("value").startswith(FANTOIR_TRAILER_PREFIX)
    ).select("value", classify_fantoir_record())
