"""Generic demux operator (SURVEY §2.4 D1-D3).

The reference's one dataflow operator: a single pass over a file
routing each record to one of N outputs by a classifier. In Spark the
"route" is a column; the three physical strategies trade memory for IO:

- ``filtered``: N filtered views of one scan — simplest, right for
  interactive/local use. For the views to share one read the caller
  persists ``df`` first, and unpersists it once the views are written:
  only the caller knows when that is (pipelines/fantoir.py).
- ``staged``: one ``partitionBy(route)`` parquet write then
  partition-pruned reads — right at 100 TB (single scan, restartable,
  no cluster-wide cache pressure, downstream reads prune to one route).
- the reference's thread/queue/CSVStream machinery (D3) has no Spark
  equivalent because partitioned parallel writes already provide it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["dispatch_by"]


def dispatch_by(
    df: DataFrame,
    route: Column,
    routes: list[str],
    strategy: str = "filtered",
    staging_path: str | None = None,
    route_col: str = "__route",
) -> dict[str, DataFrame]:
    """Split ``df`` into one DataFrame per route value.

    route: classifier expression (e.g. classify_fantoir_record()).
    routes: expected route values; rows classifying outside them are
    dropped (the reference ignores unknown record types).
    """
    routed = df.withColumn(route_col, route)
    if strategy == "staged":
        if not staging_path:
            raise ValueError("staged dispatch needs staging_path")
        routed.write.mode("overwrite").partitionBy(route_col).parquet(staging_path)
        routed = df.sparkSession.read.parquet(staging_path)
    elif strategy != "filtered":
        raise ValueError(f"unknown dispatch strategy {strategy!r}")
    return {r: routed.filter(F.col(route_col) == r).drop(route_col) for r in routes}
